"""Graph analytics on edge tables: PageRank (power iteration), HITS,
triangle counts, k-core, min-label propagation and
:func:`connected_components`, the one connected-components device of
the package (``dedup.dedup_clusters`` and ``linkage.golden_records``
are renames over it): a driver-local union-find for small graphs,
large-star/small-star contraction, which converges in O(log^2 n)
rounds whatever the diameter, above that. PageRank over a
co-occurrence or citation graph is the standard importance score a
corpus pipeline uses to weight domains / documents (the original
web-scale use case).

Scale shape: the graph stays an EDGE TABLE end-to-end — one
``(src → out_degree)`` aggregation, then per iteration one equi-join of
the rank vector against the edges and one ``dst``-keyed sum. Both
shuffles are on node ids, partial aggregation applies, and AQE treats a
celebrity node like any skewed join key. Nothing is ever collected:
rank mass lives in a DataFrame of |V| rows. Iterations are UNROLLED
into one lazy plan, with lineage truncated every ``checkpoint_every``
iterations (the :func:`~pandas_ai_spark.functions.bpe.train_bpe`
pattern) so plan depth stays bounded for large iteration counts.

Small graphs take a driver-local path instead: at or under
``LOCAL_EDGES_MAX[op]`` edges an operator collects its edge table once
(:func:`_collect_codes`) and runs its rounds over numpy, returning a
``(node, …)`` frame (:func:`_node_frame`) — identical results, without
the per-round jobs whose scheduler floor dominates at toy scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import _fanout_if_narrow

# Small-graph fast paths: at or under this many edges an operator
# collects its edge table once and runs driver-local over numpy instead
# of a chain of per-round Spark jobs (each ~0.4-1.0 s of scheduler
# floor at toy scale; r13 q138 decomposition). Each limit is set by the
# driver memory of that operator's local form. Tests that exercise the
# distributed rounds set an entry to 0.
LOCAL_EDGES_MAX = {
    # wedge arrays are bounded by m^1.5 under degree orientation:
    # ~1e7 int64 entries at 50k edges
    "triangle_counts": 50_000,
    # the collected edge table plus two float64 score vectors:
    # <= ~100 MB of driver memory at 1e6 edges
    "hits": 1_000_000,
    # the collected edge table plus one int64 label vector
    "min_label_propagation": 1_000_000,
    # the collected raw edge table plus one int64 parent array; the
    # union-find walks the edges in one Python pass
    "connected_components": 1_000_000,
    # 5M int edges ≈ 80 MB (strings a few hundred MB): two int64 code
    # arrays and one degree vector per round
    "kcore": 5_000_000,
}


def _broadcast_below(n: int, limit: int):
    """``F.broadcast`` while ``n`` (a node count, or an edge count as
    its upper bound) is under ``limit``, else the identity: an
    iteration's small side broadcasts so the edge table is never
    shuffled, and past ``limit`` (a side that would OOM the executors)
    the joins fall back to node-id shuffles."""
    return F.broadcast if n < limit else (lambda df: df)


def _collect_codes(e: DataFrame, sort: bool = False):
    """Collect a two-column edge table and factorize both endpoint
    columns together: ``(s, d, uniques)``, where ``s`` and ``d`` are
    int64 codes into ``uniques`` and a NULL endpoint is ``-1``.
    ``sort=True`` makes code order equal value order (lexicographic
    for strings, the binary order Spark's ``min``/``least`` use), so a
    min over codes is a min over node ids."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    codes, uniques = pd.factorize(
        pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True),
        sort=sort)
    codes = codes.astype(np.int64)
    return codes[:len(pdf)], codes[len(pdf):], uniques


def _node_frame(e: DataFrame, node, **cols) -> DataFrame:
    """The ``(node, *cols)`` result frame of a driver-local path:
    ``node`` is typed like ``e``'s first column, and each ``cols``
    value is ``(values, spark_type)``, with ``None`` for a node-typed
    column (a component or label)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    node_t = e.schema[0].dataType
    out = pd.DataFrame({"node": np.asarray(node),
                        **{c: np.asarray(v) for c, (v, _) in cols.items()}})
    schema = T.StructType(
        [T.StructField("node", node_t)]
        + [T.StructField(c, t or node_t) for c, (_, t) in cols.items()])
    return e.sparkSession.createDataFrame(out, schema=schema)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
    broadcast_nodes_below: int = 5_000_000,
    symmetric: bool = False,
) -> DataFrame:
    """``iterations`` rounds of the PageRank power iteration over a
    directed edge table; returns ``(node, rank)`` for every node
    incident to an edge.

    ``r₀ = 1/N``; each round
    ``r(v) ← (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u)``. Fixed iteration
    count keeps the computation a pure (deterministic) function of the
    edge set — reproducible in any SQL engine as ``iterations`` chained
    join+aggregate passes, which is exactly how the DuckDB oracle
    verifies it. Nodes with no outgoing edges (dangling) contribute no
    redistributed mass, matching the standard simplified formulation;
    symmetric (co-occurrence) graphs have none.

    Join strategy is picked from the EXACT node count (already in hand
    for the 1/N base): below ``broadcast_nodes_below`` the
    per-iteration small side — ``rank/outdeg`` contributions, |V| rows
    — broadcasts, so an iteration is one map-side join over the cached
    edge table plus one dst-keyed partial-agg'd sum: the edge table is
    never shuffled. Above it (billion-node graphs, where a rank
    broadcast would OOM the executors) the joins fall back to node-id
    shuffles, which is the shape that scales arbitrarily.

    ``symmetric=True`` (co-occurrence graphs — every edge exists in
    both directions) derives the node set from the out-degree table
    instead of a src∪dst distinct, saving one full pass over the
    edges.
    """
    from .cache import operator_persist

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    # the edge construction upstream (co-occurrence expansion +
    # distinct) can dwarf the iterations themselves: persist the edge
    # table once — every iteration, the degree agg, and the node set
    # all read it (managed lifetime, cache.py)
    e = operator_persist(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")))
    deg = e.groupBy("__s").agg(F.count("*").alias("__deg"))
    # the node table carries the out-degree for the whole run, so no
    # iteration ever joins against the degree table again (dangling
    # nodes keep NULL __deg and contribute nothing)
    if symmetric:
        ndeg = operator_persist(
            deg.select(F.col("__s").alias("node"), "__deg"))
    else:
        nodes = (e.select(F.col("__s").alias("node"))
                  .unionByName(e.select(F.col("__d").alias("node")))
                  .distinct())
        ndeg = operator_persist(
            nodes.join(deg.withColumnRenamed("__s", "node"),
                       "node", "left"))
    n_nodes = ndeg.count()  # ONE scalar (the q53/q58 pattern)
    if n_nodes == 0:
        return ndeg.select("node").withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n_nodes

    hint = _broadcast_below(n_nodes, broadcast_nodes_below)

    ranks = ndeg.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(iterations):
        # fold rank/deg on the SMALL side (|V| rows) so the edge scan
        # carries one extra double per row and the big table is never
        # shuffled or widened
        contrib = (ranks.where(F.col("__deg").isNotNull())
                   .select(F.col("node").alias("__s"),
                           (F.col("rank") / F.col("__deg"))
                           .alias("__c")))
        inbound = (
            e.join(hint(contrib), "__s")
             .groupBy(F.col("__d").alias("node"))
             .agg(F.sum("__c").alias("__in")))
        ranks = (
            ranks.select("node", "__deg").join(hint(inbound),
                                               "node", "left")
            .select("node", "__deg",
                    (F.lit(base) + F.lit(damping)
                     * F.coalesce(F.col("__in"), F.lit(0.0)))
                    .alias("rank")))
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def cooccurrence_edges(df: DataFrame, basket_col: str, item_col: str,
                       max_items_per_basket: int = 1000,
                       min_support: int | None = None,
                       symmetric: bool = True) -> DataFrame:
    """Symmetric co-occurrence edges from (basket, item) rows: one edge
    per ordered pair of distinct items sharing a basket, deduplicated —
    the input PageRank/centrality wants for co-purchase / co-citation
    graphs. Same two-shuffle shape as
    :func:`~pandas_ai_spark.functions.mining.frequent_pairs`: one
    basket-keyed ``collect_set`` (sorted, capped — the cap bounds a
    degenerate basket's quadratic term), row-local ordered-pair
    expansion (never a self-join or cross join), one distinct.

    ``min_support`` keeps only pairs co-occurring in at least that many
    baskets (the pair agg replaces the distinct — same shuffle, plus a
    count) — the cheap edge-thresholding path when downstream (e.g.
    triangle counting) doesn't need frequent_pairs' confidence/lift
    joins.

    ``symmetric=False`` emits each unordered pair once (``src < dst``)
    — halves the shuffle volume for consumers that canonicalize anyway
    (triangle counting); keep the default for PageRank, which needs
    both directions."""
    arr = F.array_sort(F.collect_set("__i"))
    if max_items_per_basket:
        arr = F.slice(arr, 1, int(max_items_per_basket))
    # a narrow input is fanned out on the basket: that exchange serves
    # the basket grouping too (the frequent_pairs device)
    baskets = (_fanout_if_narrow(
                   df.select(F.col(basket_col).alias("__b"),
                             F.col(item_col).alias("__i"))
                     .where(F.col("__i").isNotNull()), "__b")
                 .groupBy("__b").agg(arr.alias("__items")))
    # unordered pairs from the sorted array — ONE struct per pair even
    # for symmetric output: dedup/threshold on the (src < dst) halved
    # grain first, then mirror row-locally. The old form exploded both
    # directions before the distinct, doubling the rows through the
    # dedup/count shuffle for an exactly mirror-symmetric set (guide
    # §2.3 "shuffle fewer bytes"); per-direction co-occurrence counts
    # are equal by symmetry, so thresholding the halved grain is
    # identical.
    pair_structs = F.flatten(F.transform(
        F.col("__items"),
        lambda x, i: F.transform(
            F.slice(F.col("__items"), i + 2,
                    F.greatest(F.size("__items") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("src"), y.alias("dst")))))
    pairs = (baskets
             .select(F.explode(pair_structs).alias("__e"))
             .select(F.col("__e.src").alias("src"),
                     F.col("__e.dst").alias("dst")))
    if min_support is None:
        half = pairs.distinct()
    else:
        half = (pairs.groupBy("src", "dst")
                     .agg(F.count("*").alias("__n"))
                     .where(F.col("__n") >= int(min_support))
                     .select("src", "dst"))
    if not symmetric:
        return half
    return half.select(F.explode(F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )).alias("__p")).select("__p.src", "__p.dst")


def _tri_local(und: DataFrame) -> DataFrame:
    """Driver-local per-node triangle counts over an already-persisted
    canonical (u < v, distinct, no self-loops) edge table small enough
    to collect — vectorized numpy wedge enumeration instead of the
    degree-agg + two wedge joins + closing join job chain (the
    q138/_hits_local device: at toy scale each of those ~6 jobs is
    0.2-0.8 s of scheduler floor). Counts are identical by
    construction: same degree orientation, each triangle enumerated
    once at its unique apex, closure checked against the same
    canonical edge set — all exact integers. Memory: wedge count is
    bounded by m^1.5 under degree orientation (~1e7 int64 entries at
    the 50k-edge gate's worst case)."""
    import numpy as np
    from pyspark.sql import types as T

    s, d, uniques = _collect_codes(und)
    n = max(len(uniques), 1)
    ok = (s >= 0) & (d >= 0)  # NULL endpoints never equi-join
    s, d = s[ok], d[ok]
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    # orient low-(degree, id) -> high-(degree, id), as the joins do
    fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    a = np.where(fwd, s, d)
    b = np.where(fwd, d, s)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    m = len(a)
    tri = np.zeros(n, dtype=np.int64)
    if m:
        # per oriented edge i = (a, b): wedge partners are a's LATER
        # out-neighbors in the (a, b)-sorted list (strictly greater b
        # — the wedge's b < c filter); close each wedge against the
        # canonical undirected set
        block_end = np.searchsorted(a, a, side="right")
        idx = np.arange(m)
        k = block_end - idx - 1
        rep = np.repeat(idx, k)
        flat = (np.arange(k.sum(), dtype=np.int64)
                - np.repeat(np.cumsum(k) - k, k) + np.repeat(idx, k) + 1)
        bs, cs, apex = b[rep], b[flat], a[rep]
        lo = np.minimum(bs, cs)
        hi = np.maximum(bs, cs)
        keys = lo * n + hi
        ekeys = np.sort(np.minimum(s, d) * n + np.maximum(s, d))
        pos = np.searchsorted(ekeys, keys)
        pos_c = np.minimum(pos, len(ekeys) - 1)
        closed = ekeys[pos_c] == keys
        for arr in (apex[closed], bs[closed], cs[closed]):
            tri += np.bincount(arr, minlength=n)
    # tri is padded to max(n, 1) for the empty-edge case — index the
    # alive mask over the REAL node count (an empty q88-at-sf0.001
    # edge set must yield an empty frame, not a shape error)
    alive = tri[:len(uniques)] > 0
    return _node_frame(und, uniques[alive],
                       triangles=(tri[:len(uniques)][alive],
                                  T.LongType()))


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst",
                    assume_canonical: bool = False) -> DataFrame:
    """Per-node triangle counts over an undirected graph:
    ``(node, triangles)``, nodes with zero triangles omitted.

    Algorithm (the standard distributed formulation — Suri & Vassilvitskii
    "Counting Triangles and the Curse of the Last Reducer"): orient every
    undirected edge from the lower-(degree, id) endpoint to the higher,
    so each triangle is enumerated exactly once as a directed wedge
    ``a→b, a→c`` closed by ``b→c``. Degree orientation bounds every
    node's out-degree by O(√m) on any graph, which caps the wedge
    (self-join) blow-up a hub vertex would otherwise cause — the
    property that keeps this runnable on a power-law co-occurrence
    graph at 100 TB. Triangle counts are orientation-invariant, so a
    naive id-ordered SQL formulation is a valid oracle.

    Input may contain both directions and duplicates; it is first
    canonicalized (undirected-deduped) and self-loops are dropped.
    ``assume_canonical=True`` skips that pass — one fewer full-edge
    exchange (guide §2.4: a distinct on already-unique data) — for
    callers whose edges are already ``src < dst``, deduplicated and
    loop-free by construction (``cooccurrence_edges(symmetric=False)``).
    Shape: degree agg + two broadcast-eligible joins of the oriented
    edge list with itself on the wedge apex, then the closing
    semi-equi-join — no cartesian products, no Python.

    Small-graph fast path: at or under
    ``LOCAL_EDGES_MAX["triangle_counts"]`` canonical edges — one count
    on the persisted table, which also materializes the cache every
    path reads five times — the wedge enumeration runs driver-local
    over vectorized numpy (identical integer counts, see
    :func:`_tri_local`) instead of a ~6-job join chain whose
    scheduler floor dominates at toy scale. Above it the distributed
    joins run (the billion-edge story, unchanged)."""
    from .cache import operator_persist

    # the canonical edge table is referenced five times (degree agg,
    # two rank joins, wedge sides, closing join) — without a persist,
    # Catalyst re-executes the upstream edge derivation (often an
    # expensive co-occurrence pass) once per reference
    if assume_canonical:
        und = operator_persist(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    else:
        und = operator_persist(
            edges
            .select(F.least(src, dst).alias("u"),
                    F.greatest(src, dst).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())
    if und.count() <= LOCAL_EDGES_MAX["triangle_counts"]:
        return _tri_local(und)
    deg = (und.select(F.col("u").alias("n"))
              .unionAll(und.select(F.col("v").alias("n")))
              .groupBy("n").agg(F.count("*").alias("d")))
    ranked = (und
              .join(deg.withColumnRenamed("n", "u")
                       .withColumnRenamed("d", "du"), "u")
              .join(deg.withColumnRenamed("n", "v")
                       .withColumnRenamed("d", "dv"), "v"))
    # orient low-(degree, id) → high-(degree, id)
    fwd = (F.col("du") < F.col("dv")) | \
          ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"))
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "a").where(F.col("b") < F.col("c"))
    # close the wedge: (b, c) must be an undirected edge
    closing = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    # one row-local explode, NOT a 3-way union — a union would scan
    # (and recompute) the wedge join once per corner
    per_node = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node"))
    return per_node.groupBy("node").agg(F.count("*").alias("triangles"))


def _hits_local(e: DataFrame, iterations: int) -> DataFrame:
    """Driver-local HITS over an already-distinct persisted edge table
    small enough to collect — numpy ``bincount`` rounds instead of
    2·iterations broadcast-join jobs. Bitwise-identical to the
    distributed path: every intermediate is an integer-valued float64
    sum (exact, order-independent to 2^53), the L2 norm and final
    divisions are single IEEE ops on both sides."""
    import numpy as np
    from pyspark.sql import types as T

    s_idx, d_idx, uniques = _collect_codes(e)
    n = len(uniques)
    h = np.ones(n, dtype="float64")
    a = np.zeros(n, dtype="float64")
    for _ in range(int(iterations)):
        a = np.bincount(d_idx, weights=h[s_idx], minlength=n)
        h = np.bincount(s_idx, weights=a[d_idx], minlength=n)
    nh = float(np.sqrt(np.sum(h * h)))
    na = float(np.sqrt(np.sum(a * a)))
    return _node_frame(e, uniques, hub=(h / nh, T.DoubleType()),
                       authority=(a / na, T.DoubleType()))


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iterations: int = 3, checkpoint_every: int = 2,
         broadcast_nodes_below: int = 5_000_000) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over a directed edge table:
    ``(node, hub, authority)`` after ``iterations`` rounds of
    ``a ← Aᵀh; h ← A·a`` from ``h₀ = 1``, L2-normalized ONCE at the
    end — the classic bipartite-ranking complement to PageRank
    (customers↔products, queries↔documents): hubs point at good
    authorities, authorities are pointed at by good hubs.

    Deferring normalization keeps every intermediate score an INTEGER
    sum (exact in doubles to 2⁵³ — no per-iteration float scalar, no
    cross-engine summation-order drift), which is what lets a plain
    chained-CTE SQL oracle reproduce the fixed-iteration computation
    bit-for-bit; rankings are scale-invariant so the result is the
    standard one. Per round: two score-keyed equi-joins + dst/src
    partial-agg'd sums over the persisted distinct edge table — the
    q82 shape; the score side broadcasts below
    ``broadcast_nodes_below`` nodes (edge table never shuffles), node
    -id shuffles above it. Nodes missing a direction (no in- or
    out-edges) report 0 for that score.

    ``checkpoint_every`` bounds the unrolled 2·iterations join lineage
    with an eager ``localCheckpoint`` every that-many rounds (the
    connected-components device, ``connected_components``/``kcore``):
    without it a many-iteration run replans a join chain whose depth
    grows 2 per round. Checkpointing is an identity on the scores
    (integer-exact sums are unchanged), so the SQL oracle contract is
    unaffected.

    Small-graph fast path (the broadcast-join idea applied to the
    whole operator): when the DISTINCT edge count — one cheap job on
    the already-persisted edge table, paid by both paths — is at or
    under ``LOCAL_EDGES_MAX["hits"]``, the iteration runs driver-local
    over numpy ``bincount`` instead of 2·iterations broadcast-join
    rounds. Rationale (r13 q138 decomposition, sf0.1): each distributed
    half-round costs ~0.4-1.0 s of SCHEDULER floor (cached edge scan +
    broadcast build + partial-agg shuffle), so 6 rounds ≈ 5 s of pure
    per-job overhead on a graph whose score vectors fit the driver many
    times over — exactly the regime where a single-process engine wins.
    The two paths are bitwise-identical by construction (integer-exact
    float64 sums, shared IEEE norm/division), so the oracle contract is
    unaffected; at 10⁶ edges the collected table is ≲100 MB driver
    memory, and above the threshold the distributed rounds (fixed round
    count, linear work per round, score side broadcast) are unchanged —
    at cluster scale the scheduler floor amortizes and the edge table
    never moves.
    """
    from .cache import operator_persist

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = operator_persist(
        edges.select(F.col(src).alias("__s"),
                     F.col(dst).alias("__d")).distinct())
    n_edges = e.count()
    if n_edges == 0:
        raise ValueError("hits needs a non-empty edge table")
    if n_edges <= LOCAL_EDGES_MAX["hits"]:
        return _hits_local(e, iterations)
    nodes = (e.select(F.col("__s").alias("node"))
              .union(e.select("__d")).distinct())
    maybe_bc = _broadcast_below(nodes.count(), broadcast_nodes_below)
    h = nodes.select("node", F.lit(1.0).alias("h"))
    a = None
    for it in range(int(iterations)):
        a = (e.join(maybe_bc(h.withColumnRenamed("node", "__s")),
                    "__s")
              .groupBy(F.col("__d").alias("node"))
              .agg(F.sum("h").alias("a")))
        h = (e.join(maybe_bc(a.withColumnRenamed("node", "__d")),
                    "__d")
              .groupBy(F.col("__s").alias("node"))
              .agg(F.sum("a").alias("h")))
        if (checkpoint_every and (it + 1) % checkpoint_every == 0
                and it + 1 < iterations):
            a = a.localCheckpoint(eager=True)
            h = h.localCheckpoint(eager=True)
    # persist the final score tables: the two norm scalars and the
    # returned plan would otherwise each re-execute the whole
    # 2·iterations join chain (measured 3x wall at sf0.01)
    h = operator_persist(h)
    a = operator_persist(a)
    nh = h.agg(F.sqrt(F.sum(F.col("h") ** 2))).collect()[0][0]
    na = a.agg(F.sqrt(F.sum(F.col("a") ** 2))).collect()[0][0]
    return (nodes
            .join(h, "node", "left").join(a, "node", "left")
            .select("node",
                    (F.coalesce(F.col("h"), F.lit(0.0))
                     / F.lit(float(nh))).alias("hub"),
                    (F.coalesce(F.col("a"), F.lit(0.0))
                     / F.lit(float(na))).alias("authority")))


def _kcore_local(e: DataFrame, k: int, rounds: int,
                 return_convergence: bool):
    """Driver-local k-core peel over an already-checkpointed symmetric
    edge table small enough to collect — numpy ``bincount`` rounds
    instead of per-round checkpoint+count jobs (the q138/_hits_local
    device; r13 decomposition: each distributed round costs ~0.4-1.0 s
    of scheduler floor at toy scale). Identical to the distributed
    rounds by construction: degree counts and >= k filters are exact
    integer operations, the loop/early-stop/probe logic mirrors
    :func:`kcore` line for line."""
    import numpy as np
    from pyspark.sql import types as T

    s, d, uniques = _collect_codes(e)
    n = len(uniques)
    # NULL endpoints factorize to -1 (ADVICE r14: bincount raises on
    # negatives); remap them to a sentinel slot that mirrors the
    # distributed rounds exactly — a NULL-dst edge still counts
    # toward its src's ROUND-1 degree (the groupBy counts it), but
    # the equi-join filters never match NULL, so every NULL-touching
    # edge drops in the first peel regardless of degree.
    s = np.where(s < 0, n, s)
    d = np.where(d < 0, n, d)

    def peel(s, d):
        keep = np.bincount(s, minlength=n + 1) >= int(k)
        keep[n] = False  # NULL never equi-joins back
        return keep[s] & keep[d]

    prev = len(s)
    converged = prev == 0
    for _ in range(int(rounds)):
        if converged:
            break
        mask = peel(s, d)
        s, d = s[mask], d[mask]
        cnt = len(s)
        if cnt == prev:
            converged = True
        prev = cnt
    if return_convergence and not converged and prev > 0:
        converged = int(peel(s, d).sum()) == prev
    deg = np.bincount(s, minlength=n + 1)[:n]
    alive = deg > 0
    res = _node_frame(e, uniques[alive],
                      degree=(deg[alive].astype("int64"), T.LongType()))
    if return_convergence:
        return res, converged
    return res


def _cc_local(raw: DataFrame) -> DataFrame:
    """Driver-local connected components over the persisted raw
    ``(u, v)`` edge table, small enough to collect — one union-find
    pass instead of O(log² n) star-contraction rounds of
    checkpoint+signature jobs. The node set is every endpoint;
    self-loops, duplicates and NULL-touching edges shape membership
    only, as in the distributed rounds. Labels are identical to the
    converged contraction by construction: component = min node id
    (codes from a SORTED factorize, so integer code order equals value
    order). A NULL endpoint is one node of its own, labelled NULL: the
    distributed tail restores it self-labelled, as no equi-join or
    ``u != v`` filter ever matches NULL."""
    import pandas as pd

    u, v, uniques = _collect_codes(raw, sort=True)
    parent = list(range(len(uniques)))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:               # path compression
            parent[x], x = root, parent[x]
        return root

    ok = (u >= 0) & (v >= 0) & (u != v)
    for a, b in zip(u[ok].tolist(), v[ok].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min code becomes the root — codes are value-ordered
            parent[max(ra, rb)] = min(ra, rb)
    node = pd.Series(uniques)
    comp = pd.Series(uniques[[find(i) for i in range(len(uniques))]])
    if (u < 0).any() or (v < 0).any():
        null = pd.Series([None], dtype=node.dtype)
        node = pd.concat([node, null], ignore_index=True)
        comp = pd.concat([comp, null], ignore_index=True)
    return _node_frame(raw, node, component=(comp, None))


def _min_label_local(fwd: DataFrame, iterations: int) -> DataFrame:
    """Driver-local min-label propagation over an already-persisted
    raw edge table small enough to collect — numpy ``minimum.at``
    rounds instead of per-round join jobs. Identical to the
    distributed rounds by construction: labels are node ids, the
    factorize is SORTED so integer code order equals value order
    (lexicographic for strings — the same binary ordering Spark's
    ``least`` uses), and min is exact on integers."""
    import numpy as np

    a, b, uniques = _collect_codes(fwd, sort=True)
    n = len(uniques)
    mask = a != b  # self-loops shape membership only, not propagation
    s = np.concatenate([a[mask], b[mask]])
    d = np.concatenate([b[mask], a[mask]])
    labels = np.arange(n, dtype=np.int64)
    for _ in range(int(iterations)):
        neigh = np.full(n, n, dtype=np.int64)
        np.minimum.at(neigh, d, labels[s])
        labels = np.minimum(labels, neigh)
    return _node_frame(fwd, uniques, label=(uniques[labels], None))


def min_label_propagation(edges: DataFrame, src: str = "src",
                          dst: str = "dst", iterations: int = 3,
                          broadcast_nodes_below: int = 5_000_000
                          ) -> DataFrame:
    """Synchronous min-label propagation over an UNDIRECTED graph:
    every node starts labeled with its own id; each round every node
    takes the minimum of its label and its neighbors' labels. After
    ``iterations`` rounds, ``label(v)`` is the minimum node id within
    ``iterations`` hops — the bounded-round fragment of connected
    components (labels converge to components once ``iterations``
    reaches the graph diameter; :func:`connected_components` is the
    convergent operator). Returns ``(node, label)``.

    This is the fixed-round community primitive: fixed rounds keep the
    computation deterministic and SQL-oracle-expressible (one chained
    CTE per round), and the per-round cost is one partial-aggregated
    min per edge endpoint — the q82/q138 shape: the symmetrized edge
    table is persisted and NEVER re-shuffles; only the (node, label)
    score table moves, and it broadcasts below
    ``broadcast_nodes_below`` nodes. Min is idempotent/associative, so
    map-side combine collapses the shuffle to the node count.

    Small-graph fast path (the q138/hits device): at or under
    ``LOCAL_EDGES_MAX["min_label_propagation"]`` RAW edges — one count
    on the persisted edge table, whose upstream both paths execute
    exactly once — the rounds run driver-local over numpy
    ``minimum.at`` instead of per-round join jobs, identical by
    construction (sorted factorize makes integer code order equal
    value order).
    """
    from .cache import operator_persist

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    fwd = operator_persist(
        edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b")))
    n_edges = fwd.count()
    if n_edges == 0:
        raise ValueError("min_label_propagation needs a non-empty "
                         "edge table")
    if n_edges <= LOCAL_EDGES_MAX["min_label_propagation"]:
        return _min_label_local(fwd, iterations)
    sym = operator_persist(
        fwd.union(fwd.select(F.col("__b"), F.col("__a"))
                     .toDF("__a", "__b"))
           .where(F.col("__a") != F.col("__b")).distinct())
    # node set from the UNFILTERED endpoints: a node whose only edges
    # are self-loops must still appear (labeled with itself), so the
    # self-loop drop above only shapes propagation, not membership
    nodes = (fwd.select(F.col("__a").alias("node"))
                .union(fwd.select(F.col("__b").alias("node")))
                .distinct())
    maybe_bc = _broadcast_below(nodes.count(), broadcast_nodes_below)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(int(iterations)):
        neigh = (sym.join(maybe_bc(labels.withColumnRenamed(
                              "node", "__a")), "__a")
                    .groupBy(F.col("__b").alias("node"))
                    .agg(F.min("label").alias("__nl")))
        labels = (labels.join(maybe_bc(neigh), "node", "left")
                        .select("node",
                                F.least(F.col("label"),
                                        F.coalesce(F.col("__nl"),
                                                   F.col("label")))
                                .alias("label")))
    return labels


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iterations: int = 50,
                         stats: dict | None = None
                         ) -> DataFrame:
    """Connected components to CONVERGENCE: returns ``(node,
    component)`` with ``component`` = the minimum node id in the
    component (lexicographic for string ids). This is the package's
    one components device: ``dedup.dedup_clusters`` (near-duplicate
    clusters) and ``linkage.golden_records`` (entities) rename its
    output.

    The raw ``(src, dst)`` projection is persisted once and counted
    once. At or under ``LOCAL_EDGES_MAX["connected_components"]`` raw
    edges (self-loops and duplicates included) :func:`_cc_local`
    collects that one table and runs a union-find; the limit counts
    raw edges, not canonical ones, and both paths give identical
    labels, so it only decides which path runs. Above it (or when
    ``stats`` asks for round instrumentation) the graph contracts by
    alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014),
    which halve tree heights and converge in O(log^2 n) rounds
    whatever the diameter — a path-shaped component of length D does
    not need D rounds, as min-label propagation would (entity-
    resolution chains, follower graphs, lineage graphs).

    Per round the edge set is rewritten twice:

    - large-star: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood — ``(v, m)`` for each
      neighbor ``v > u`` where ``m = min(N(u) + {u})``;
    - small-star: with edges oriented ``u > v``, every node connects
      its smaller neighbors (and itself) to their minimum.

    Both are one node-keyed aggregation plus one co-partitioned
    equi-join on the SAME key (the groupBy output is already hash
    partitioned on ``u``, so Catalyst reuses the exchange), nothing is
    broadcast or collected, and partial aggregation applies to the
    ``min``. Each round's edge set is ``localCheckpoint``-ed: lineage
    stays bounded and the convergence probe reads the materialized
    frame. Convergence = the canonically-oriented edge set is
    identical two rounds running, screened with one aggregate
    ``(count, bit_xor(xxhash64(u, v)))`` over the checkpointed frame
    (xor is order-independent and cannot overflow under ANSI mode; the
    set is distinct so identical pairs never cancel). The signature is
    a FILTER, not an identity — xor of 64-bit hashes is not injective
    — so the round where it first matches pays ONE definitive
    ``subtract``-emptiness probe before declaring convergence; a
    collision (≈2^-64 per round) costs one extra iteration, never a
    wrong label. Non-terminal rounds stay subtract-free. A run that
    hits ``max_iterations`` warns and returns the partial contraction.
    Self-loop-only and isolated
    endpoints never propagate but are restored in the output labeled
    with themselves (the ``min_label_propagation`` membership rule).

    At convergence every edge points child -> component-min, so the
    label table is the edge set itself plus self-labels for roots —
    no final propagation pass is needed.
    """
    from .cache import operator_persist

    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    raw = operator_persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    if (stats is None and raw.count()
            <= LOCAL_EDGES_MAX["connected_components"]):
        return _cc_local(raw)
    nodes = operator_persist(
        raw.select(F.col("u").alias("node"))
           .union(raw.select(F.col("v").alias("node")))
           .distinct())
    # canonical orientation u > v, self-loops dropped (membership is
    # restored from `nodes` at the end)
    e = (raw.where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True))

    def _signature(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"),
                       F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = _signature(e)
    rounds = 0
    for _ in range(int(max_iterations)):
        if sig[0] == 0:
            break
        # large-star over the symmetric view: m = min(N(u) + {u})
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("__mv"))
        m = F.least(F.col("u"), F.col("__mv"))
        large = (sym.join(mins, "u")
                    .where(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("u"), m.alias("v"))
                    .where(F.col("u") != F.col("v"))
                    .distinct())
        # small-star on u > v orientation: attach v's (and u) to the min
        e2 = (large.select(F.greatest("u", "v").alias("u"),
                           F.least("u", "v").alias("v"))
                   .distinct())
        mins2 = e2.groupBy("u").agg(F.min("v").alias("__m"))
        joined = e2.join(mins2, "u")
        small = (joined.select(F.col("v").alias("u"),
                               F.col("__m").alias("v"))
                 .union(mins2.select(F.col("u"), F.col("__m").alias("v")))
                 .where(F.col("u") != F.col("v"))
                 .select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
                 .distinct()
                 .localCheckpoint(eager=True))
        rounds += 1
        new_sig = _signature(small)
        prev = e
        e = small
        if new_sig == sig:
            # signature equality is necessary, not sufficient (xor of
            # hashes can collide) — confirm set identity once on the
            # terminating round; both frames are checkpointed distinct
            # sets with equal counts, so one subtract decides it
            if prev.subtract(small).isEmpty():
                break
        sig = new_sig
    else:
        import warnings
        warnings.warn(
            f"connected_components did not converge in "
            f"{max_iterations} rounds; labels are the partial "
            f"contraction", stacklevel=2)
    if stats is not None:
        stats["rounds"] = rounds
    # stars: u (child) -> v (component min); roots/isolated self-label
    children = e.select(F.col("u").alias("node"),
                        F.col("v").alias("component"))
    selfs = (nodes.join(children.select("node"), "node", "left_anti")
                  .select("node", F.col("node").alias("component")))
    return children.union(selfs)


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 89:208701) of
    the undirected simple graph induced by ``edges``: the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive when hubs attach to hubs (social graphs), negative for
    hub-and-spoke topologies (the usual web/bipartite shape). One row
    ``(n_nodes, n_edges, assortativity)``; NULL when degenerate (all
    degrees equal — e.g. a perfect cycle — or no edges).

    Determinism: degrees are integers, so the six Pearson sufficient
    statistics (M, Σx, Σy, Σxy, Σx², Σy²) are EXACT bigint sums —
    order-independent; the coefficient is derived row-local in
    doubles from those integers, bit-identical across engines.

    Scale shape: symmetrize + distinct is one shuffle; the degree
    table is one map-side-combined aggregation of it (size = node
    count); attaching degrees to both endpoints is two co-partitioned
    equi-joins (src-keyed, then dst-keyed — each reuses/creates one
    hash exchange, AQE picks broadcast when the degree table is
    small); the statistics collapse in a single partial-aggregated
    pass. Nothing is collected or broadcast by hand.
    """
    from .cache import operator_persist

    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")) \
               .where(F.col("u") != F.col("v"))
    # the symmetrize+distinct subtree is referenced by the degree agg
    # AND the statistics join, and the degree table by BOTH endpoint
    # joins plus the node count — without persists the whole upstream
    # (often itself a distinct over a big table) re-executes once per
    # reference (guide §5; r15: four executions observed in the q155
    # plan, one per subtree)
    sym = operator_persist(
        raw.union(raw.select(F.col("v").alias("u"),
                             F.col("u").alias("v")))
           .distinct())
    deg = operator_persist(
        sym.groupBy(F.col("u").alias("node")).agg(
            F.count("*").cast("bigint").alias("deg")))
    j = (sym
         .join(deg.select(F.col("node").alias("u"),
                          F.col("deg").alias("dx")), "u")
         .join(deg.select(F.col("node").alias("v"),
                          F.col("deg").alias("dy")), "v"))
    stats = j.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sx2"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("sy2"))
    from .fold import fold_scalars

    nn = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = m * F.col("sxy").cast("double") - sx * sy
    vx = m * F.col("sx2").cast("double") - sx * sx
    vy = m * F.col("sy2").cast("double") - sy * sy
    return fold_scalars(stats, nn).select(
        "n_nodes",
        (F.col("m") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.when((vx > 0) & (vy > 0),
               cov / (F.sqrt(vx) * F.sqrt(vy)))
         .alias("assortativity"))


def kcore(edges: DataFrame, k: int, rounds: int = 8,
          src: str = "src", dst: str = "dst",
          broadcast_nodes_below: int = 5_000_000,
          return_convergence: bool = False):
    """``rounds``-round k-core peel over a SYMMETRIC edge table: keep
    the subgraph where every node has degree >= ``k`` within the
    subgraph, by repeatedly deleting under-degree nodes - the
    density filter that isolates the spammy/botty tightly-knit region
    of an interaction graph (or, inverted, prunes barely-connected
    noise before community detection). Returns ``(node, degree)`` for
    the surviving nodes, ``degree`` counted WITHIN the final
    subgraph; with ``return_convergence=True`` returns
    ``(DataFrame, converged)`` instead, where ``converged`` reports
    whether the peel reached its fixpoint within ``rounds`` - the
    signal a 100x caller uses to learn that the round budget
    sufficed (or didn't) without re-running.

    Fixed ``rounds`` keeps the computation a pure deterministic
    function of the edge set (the q82 PageRank device): the oracle is
    ``rounds`` chained filter+aggregate CTEs, and the output is
    engine-exact whether or not the peel has converged (each round's
    survivor set is identical algebra in both engines). Convergence
    is detected EXACTLY and for free: the peel only ever deletes
    edges, so an unchanged live-edge COUNT (already in hand - each
    round's set is eagerly checkpointed) means an unchanged set, and
    the loop early-stops there - the remaining rounds are algebraic
    no-ops in both engines, so the fixed-round oracle contract is
    preserved bit-for-bit. Peel depth is small for real graphs
    (degeneracy ordering removes whole shells per round, not single
    nodes).

    Scale shape: each round is one map-side-combined degree count
    over the alive edge table plus two semi-joins that filter the
    edge table in place (never shuffled on itself). The alive NODE
    set broadcasts only while the live-edge count (an upper bound on
    the node count - every node has degree >= 1) stays under
    ``broadcast_nodes_below``; past it the joins fall back to
    node-id shuffles, the shape that scales arbitrarily (the
    pagerank/hits convention - a billion-node keep set must not be
    forced into executor memory). Each round's edge set is
    ``localCheckpoint``-ed (the connected-components device), so
    round r costs O(|E_r|) and the plan stays flat instead of
    nesting r rounds of joins.

    Small-graph fast path (the q138/_hits_local device): at or under
    ``LOCAL_EDGES_MAX["kcore"]`` edges — the count is already in hand
    from the eager checkpoint both paths pay — the peel runs
    driver-local over numpy ``bincount`` (identical integer algebra,
    see :func:`_kcore_local`) instead of per-round checkpoint+count
    jobs whose ~0.4-1.0 s scheduler floor dominates at toy scale.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    alive = edges.select(F.col(src).alias("__s"),
                         F.col(dst).alias("__d")) \
        .localCheckpoint(eager=True)
    prev = alive.count()
    # the checkpoint + count above are paid by both paths
    if prev <= LOCAL_EDGES_MAX["kcore"]:
        return _kcore_local(alive, k, rounds, return_convergence)

    def peel(alive: DataFrame, n_edges: int) -> DataFrame:
        # one map-side-combined degree count, then two semi-joins that
        # keep the edges whose endpoints both have degree >= k
        keep = (alive.groupBy(F.col("__s").alias("__n"))
                     .agg(F.count(F.lit(1)).cast("bigint").alias("__deg"))
                     .where(F.col("__deg") >= int(k)).select("__n"))
        hint = _broadcast_below(n_edges, broadcast_nodes_below)
        return (alive
                .join(hint(keep.select(F.col("__n").alias("__s"))), "__s")
                .join(hint(keep.select(F.col("__n").alias("__d"))), "__d")
                .select("__s", "__d"))

    converged = prev == 0  # an empty graph is trivially its own core
    for _ in range(int(rounds)):
        if converged:
            break
        alive = peel(alive, prev).localCheckpoint(eager=True)
        cnt = alive.count()
        if cnt == prev:
            converged = True
        prev = cnt
    if return_convergence and not converged and prev > 0:
        # the peel may have reached its fixpoint exactly ON the last
        # budgeted round (that round still deleted edges, so the
        # in-loop check can't see it — ADVICE r12 false negative). One
        # extra DETECTION round is an algebraic no-op on the result:
        # count the would-be survivors without applying the filter.
        converged = peel(alive, prev).count() == prev
    out = alive.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree"))
    if return_convergence:
        return out, converged
    return out
