"""Graph analytics on edge tables: PageRank (power iteration).

Shallow-graph connected components live in
:func:`~pandas_ai_spark.functions.dedup.dedup_clusters` (min-label
propagation — right for near-dup clique families); this module adds
centrality plus :func:`connected_components`, the convergent
large-star/small-star contraction for DEEP graphs (entity-resolution
chains, lineage graphs) where propagation's one-round-per-hop cost is
the bottleneck. PageRank over a co-occurrence or citation graph is the
standard importance score a corpus pipeline uses to weight domains /
documents (the original web-scale use case).

Scale shape: the graph stays an EDGE TABLE end-to-end — one
``(src → out_degree)`` aggregation, then per iteration one equi-join of
the rank vector against the edges and one ``dst``-keyed sum. Both
shuffles are on node ids, partial aggregation applies, and AQE treats a
celebrity node like any skewed join key. Nothing is ever collected:
rank mass lives in a DataFrame of |V| rows. Iterations are UNROLLED
into one lazy plan, with lineage truncated every ``checkpoint_every``
iterations (the :func:`~pandas_ai_spark.functions.bpe.train_bpe`
pattern) so plan depth stays bounded for large iteration counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import _fanout_if_narrow


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

    small = n_nodes < broadcast_nodes_below
    hint = F.broadcast if small else (lambda df: df)

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
    import pandas as pd

    pdf = und.toPandas()
    both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]],
                     ignore_index=True)
    codes, uniques = pd.factorize(both, sort=False)
    n = max(len(uniques), 1)
    s, d = codes[:len(pdf)], codes[len(pdf):]
    ok = (s >= 0) & (d >= 0)  # NULL endpoints never equi-join
    s, d = s[ok].astype(np.int64), d[ok].astype(np.int64)
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
    out = pd.DataFrame({"node": pd.Series(uniques[alive]),
                        "triangles": tri[:len(uniques)][alive]})
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("node", und.schema[0].dataType),
        T.StructField("triangles", T.LongType())])
    return und.sparkSession.createDataFrame(out, schema=schema)


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst",
                    assume_canonical: bool = False,
                    local_edges_below: int = 50_000) -> DataFrame:
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

    ``local_edges_below`` is the small-graph fast path (the
    q138/_hits_local device): at or below that many canonical edges —
    one count on the persisted table, which also materializes the
    cache every path reads five times — the wedge enumeration runs
    driver-local over vectorized numpy (identical integer counts, see
    :func:`_tri_local`) instead of a ~6-job join chain whose
    scheduler floor dominates at toy scale. 50k edges bounds the
    wedge arrays to ~1e7 entries worst-case under degree orientation.
    Pass 0 to force the distributed joins (the billion-edge story,
    unchanged)."""
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
    if local_edges_below and und.count() <= local_edges_below:
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
    import pandas as pd

    pdf = e.toPandas()
    if len(pdf) == 0:
        raise ValueError("hits needs a non-empty edge table")
    both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]],
                     ignore_index=True)
    codes, uniques = pd.factorize(both, sort=False)
    n = len(uniques)
    s_idx, d_idx = codes[:len(pdf)], codes[len(pdf):]
    h = np.ones(n, dtype="float64")
    a = np.zeros(n, dtype="float64")
    for _ in range(int(iterations)):
        a = np.bincount(d_idx, weights=h[s_idx], minlength=n)
        h = np.bincount(s_idx, weights=a[d_idx], minlength=n)
    nh = float(np.sqrt(np.sum(h * h)))
    na = float(np.sqrt(np.sum(a * a)))
    out = pd.DataFrame({"node": pd.Series(uniques),
                        "hub": h / nh, "authority": a / na})
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("node", e.schema[0].dataType),
        T.StructField("hub", T.DoubleType()),
        T.StructField("authority", T.DoubleType())])
    return e.sparkSession.createDataFrame(out, schema=schema)


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iterations: int = 3, checkpoint_every: int = 2,
         broadcast_nodes_below: int = 5_000_000,
         local_edges_below: int = 1_000_000) -> DataFrame:
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

    ``local_edges_below`` is the small-graph fast path (the broadcast-
    join idea applied to the whole operator): when the DISTINCT edge
    count — one cheap job on the already-persisted edge table, paid by
    both paths — is at or below it, the iteration runs driver-local
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
    never moves. Pass ``local_edges_below=0`` to force distributed.
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
    if n_edges <= local_edges_below:
        return _hits_local(e, iterations)
    nodes = (e.select(F.col("__s").alias("node"))
              .union(e.select("__d")).distinct())
    n_nodes = nodes.count()
    maybe_bc = (F.broadcast if n_nodes < broadcast_nodes_below
                else (lambda d: d))
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
    import pandas as pd

    pdf = e.toPandas()
    both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]],
                     ignore_index=True)
    codes, uniques = pd.factorize(both, sort=False)
    n = len(uniques)
    s, d = codes[:len(pdf)], codes[len(pdf):]
    # NULL endpoints factorize to -1 (ADVICE r14: bincount raises on
    # negatives); remap them to a sentinel slot that mirrors the
    # distributed rounds exactly — a NULL-dst edge still counts
    # toward its src's ROUND-1 degree (the groupBy counts it), but
    # the equi-join filters never match NULL, so every NULL-touching
    # edge drops in the first peel regardless of degree.
    s = np.where(s < 0, n, s).astype(np.int64)
    d = np.where(d < 0, n, d).astype(np.int64)
    prev = len(s)
    converged = prev == 0
    for _ in range(int(rounds)):
        if converged:
            break
        deg = np.bincount(s, minlength=n + 1)
        keep = deg >= int(k)
        keep[n] = False  # NULL never equi-joins back
        mask = keep[s] & keep[d]
        s, d = s[mask], d[mask]
        cnt = len(s)
        if cnt == prev:
            converged = True
        prev = cnt
    if return_convergence and not converged and prev > 0:
        deg = np.bincount(s, minlength=n + 1)
        keep = deg >= int(k)
        keep[n] = False
        converged = int((keep[s] & keep[d]).sum()) == prev
    deg = np.bincount(s, minlength=n + 1)[:n]
    alive = deg > 0
    out = pd.DataFrame({"node": pd.Series(uniques[alive]),
                        "degree": deg[alive].astype("int64")})
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("node", e.schema[0].dataType),
        T.StructField("degree", T.LongType())])
    res = e.sparkSession.createDataFrame(out, schema=schema)
    if return_convergence:
        return res, converged
    return res


def _cc_local(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """Driver-local connected components over an already-persisted
    canonical (u > v, distinct, no self-loops) edge table small enough
    to collect — one union-find pass instead of O(log² n) star-
    contraction rounds of checkpoint+signature jobs. Labels are
    identical to the converged contraction by construction: component
    = min node id (codes from a SORTED factorize, so integer code
    order equals value order — lexicographic for strings, the same
    binary ordering Spark's min/least uses)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    npdf = nodes.toPandas()
    all_vals = pd.concat([npdf.iloc[:, 0], pdf.iloc[:, 0],
                          pdf.iloc[:, 1]], ignore_index=True)
    codes, uniques = pd.factorize(all_vals, sort=True)
    n = len(uniques)
    nn = len(npdf)
    u = codes[nn:nn + len(pdf)]
    v = codes[nn + len(pdf):]
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:               # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(u.tolist(), v.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min code becomes the root — codes are value-ordered
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    # a NULL node factorizes to -1 (ADVICE r14: parent[-1] silently
    # labeled it with an arbitrary component); the distributed tail
    # restores such nodes self-labeled — edges never carry NULL here
    # (the caller's u != v filter drops them), so a NULL node is
    # always isolated and its component is itself (NULL).
    ncodes = codes[:nn]
    valid = ncodes >= 0
    roots = np.array(
        [find(i) for i in np.where(valid, ncodes, 0).tolist()],
        dtype=np.int64)
    comp = pd.Series(uniques[roots])
    if not valid.all():
        comp = comp.where(pd.Series(valid),
                          npdf.iloc[:, 0].reset_index(drop=True))
    out = pd.DataFrame({"node": pd.Series(npdf.iloc[:, 0].values),
                        "component": comp})
    from pyspark.sql import types as T
    node_t = nodes.schema[0].dataType
    schema = T.StructType([T.StructField("node", node_t),
                           T.StructField("component", node_t)])
    return e.sparkSession.createDataFrame(out, schema=schema)


def _min_label_local(fwd: DataFrame, iterations: int) -> DataFrame:
    """Driver-local min-label propagation over an already-persisted
    raw edge table small enough to collect — numpy ``minimum.at``
    rounds instead of per-round join jobs. Identical to the
    distributed rounds by construction: labels are node ids, the
    factorize is SORTED so integer code order equals value order
    (lexicographic for strings — the same binary ordering Spark's
    ``least`` uses), and min is exact on integers."""
    import numpy as np
    import pandas as pd

    pdf = fwd.toPandas()
    if len(pdf) == 0:
        raise ValueError("min_label_propagation needs a non-empty "
                         "edge table")
    both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]],
                     ignore_index=True)
    codes, uniques = pd.factorize(both, sort=True)
    n = len(uniques)
    a, b = codes[:len(pdf)], codes[len(pdf):]
    mask = a != b  # self-loops shape membership only, not propagation
    s = np.concatenate([a[mask], b[mask]])
    d = np.concatenate([b[mask], a[mask]])
    labels = np.arange(n, dtype=np.int64)
    for _ in range(int(iterations)):
        neigh = np.full(n, n, dtype=np.int64)
        np.minimum.at(neigh, d, labels[s])
        labels = np.minimum(labels, neigh)
    out = pd.DataFrame({"node": pd.Series(uniques),
                        "label": pd.Series(uniques[labels])})
    from pyspark.sql import types as T
    node_t = fwd.schema[0].dataType
    schema = T.StructType([T.StructField("node", node_t),
                           T.StructField("label", node_t)])
    return fwd.sparkSession.createDataFrame(out, schema=schema)


def min_label_propagation(edges: DataFrame, src: str = "src",
                          dst: str = "dst", iterations: int = 3,
                          broadcast_nodes_below: int = 5_000_000,
                          local_edges_below: int = 1_000_000
                          ) -> DataFrame:
    """Synchronous min-label propagation over an UNDIRECTED graph:
    every node starts labeled with its own id; each round every node
    takes the minimum of its label and its neighbors' labels. After
    ``iterations`` rounds, ``label(v)`` is the minimum node id within
    ``iterations`` hops — the bounded-round fragment of connected
    components (labels converge to components once ``iterations``
    reaches the graph diameter). Returns ``(node, label)``.

    This is the DISTRIBUTED component/community primitive next to the
    driver-side union-find in ``dedup.dedup_clusters`` (which is
    size-gated): fixed rounds keep the computation deterministic and
    SQL-oracle-expressible (one chained CTE per round), and the
    per-round cost is one partial-aggregated min per edge endpoint —
    the q82/q138 shape: the symmetrized edge table is persisted and
    NEVER re-shuffles; only the (node, label) score table moves, and
    it broadcasts below ``broadcast_nodes_below`` nodes. Min is
    idempotent/associative, so map-side combine collapses the shuffle
    to the node count.

    ``local_edges_below`` is the small-graph fast path (the q138/hits
    device): at or below that many RAW edges — one count on the
    persisted edge table, whose upstream both paths execute exactly
    once — the rounds run driver-local over numpy ``minimum.at``
    instead of per-round join jobs, identical by construction (sorted
    factorize makes integer code order equal value order). Pass 0 to
    force the distributed rounds.
    """
    from .cache import operator_persist

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    fwd = edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
    if local_edges_below:
        fwd = operator_persist(fwd)
        if fwd.count() <= local_edges_below:
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
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("min_label_propagation needs a non-empty "
                         "edge table")
    maybe_bc = (F.broadcast if n_nodes < broadcast_nodes_below
                else (lambda d: d))
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
                         stats: dict | None = None,
                         local_edges_below: int = 1_000_000
                         ) -> DataFrame:
    """Connected components to CONVERGENCE via alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", ACM SoCC 2014). Returns
    ``(node, component)`` with ``component`` = the minimum node id in
    the component (lexicographic for string ids — same label rule as
    :func:`~pandas_ai_spark.functions.dedup.dedup_clusters`).

    Why a second components operator: ``dedup_clusters``'s distributed
    path is plain min-label propagation — one round per hop, so a
    path-shaped component of length D needs D rounds. Star contraction
    halves tree heights instead and converges in O(log^2 n) rounds
    regardless of diameter; this is the operator to reach for when the
    graph is not a shallow near-dup clique family (entity-resolution
    chains, follower graphs, lineage graphs).

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
    wrong label. Non-terminal rounds stay subtract-free.
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
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
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
    # small-graph fast path (the q138/_hits_local device): below
    # ``local_edges_below`` canonical edges — the count is already in
    # hand from the signature — one driver-local union-find replaces
    # O(log² n) star-contraction rounds of checkpoint+signature jobs
    # (at toy scale each round is ~0.4-1.0 s of scheduler floor; the
    # q147 chain graph took ~10 rounds). Labels are identical by
    # construction (min node id per component; the union-find always
    # fully converges, which equals the contraction's fixpoint). The
    # distributed rounds below remain the billion-edge scale story.
    # Requesting ``stats`` (round instrumentation) forces them, as
    # does local_edges_below=0.
    if stats is None and local_edges_below and sig[0] <= local_edges_below:
        return _cc_local(e, nodes)
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
          return_convergence: bool = False,
          local_edges_below: int = 5_000_000):
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

    ``local_edges_below`` is the small-graph fast path (the
    q138/_hits_local device): at or below that many edges — the count
    is already in hand from the eager checkpoint both paths pay — the
    peel runs driver-local over numpy ``bincount`` (identical integer
    algebra, see :func:`_kcore_local`) instead of per-round
    checkpoint+count jobs whose ~0.4-1.0 s scheduler floor dominates
    at toy scale. 5M int edges ≈ 80 MB driver memory (strings a few
    hundred MB). Pass 0 to force the distributed rounds.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark.sql.functions import broadcast

    alive = edges.select(F.col(src).alias("__s"),
                         F.col(dst).alias("__d")) \
        .localCheckpoint(eager=True)
    prev = alive.count()
    # small-graph fast path (the q138/_hits_local device): the peel
    # rounds run driver-local over numpy bincount — identical integer
    # algebra — instead of per-round checkpoint+count jobs whose
    # scheduler floor dominates at toy scale. The checkpoint + count
    # above are paid by both paths; pass local_edges_below=0 to force
    # the distributed rounds (the >2M-edge scale story, unchanged).
    if prev <= local_edges_below and local_edges_below:
        return _kcore_local(alive, k, rounds, return_convergence)
    converged = prev == 0  # an empty graph is trivially its own core
    for _ in range(int(rounds)):
        if converged:
            break
        deg = alive.groupBy(F.col("__s").alias("__n")).agg(
            F.count(F.lit(1)).cast("bigint").alias("__deg"))
        keep = deg.where(F.col("__deg") >= int(k)) \
            .select(F.col("__n"))
        hint = (broadcast if prev < broadcast_nodes_below
                else (lambda d: d))
        alive = (alive
                 .join(hint(keep.select(
                     F.col("__n").alias("__s"))), "__s")
                 .join(hint(keep.select(
                     F.col("__n").alias("__d"))), "__d")
                 .select("__s", "__d")
                 .localCheckpoint(eager=True))
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
        deg = alive.groupBy(F.col("__s").alias("__n")).agg(
            F.count(F.lit(1)).cast("bigint").alias("__deg"))
        keep = deg.where(F.col("__deg") >= int(k)).select(F.col("__n"))
        hint = (broadcast if prev < broadcast_nodes_below
                else (lambda d: d))
        probe = (alive
                 .join(hint(keep.select(F.col("__n").alias("__s"))),
                       "__s")
                 .join(hint(keep.select(F.col("__n").alias("__d"))),
                       "__d"))
        converged = probe.count() == prev
    out = alive.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree"))
    if return_convergence:
        return out, converged
    return out
