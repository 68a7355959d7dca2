"""Record linkage: blocked fuzzy (edit-distance) joins and
sorted-neighborhood candidate generation.

Both are classic entity-resolution primitives the reference lacks
entirely (its nearest analog is pandas `str` matching inside
LLM-generated code); they are first-class training-data-pipeline
operators here, shaped for scale. The self-dedup sibling with
length-bucket blocking is :func:`~pandas_ai_spark.functions.text.
fuzzy_pairs` (q42); this module adds the TWO-TABLE linkage form and
the other standard blocking family:

- ``fuzzy_join`` links a dirty table against a master table without
  comparing all pairs: candidates come from an equi-join on a blocking
  key (shared lowercase prefix) plus the length-band necessary
  condition ``|len(a) − len(b)| ≤ max_distance`` (an edit changes
  length by at most 1), and only candidates pay the O(len²)
  ``levenshtein`` — all JVM-side, no Python.
- ``sorted_neighborhood_pairs`` is the other standard blocking family:
  sort within a block, pair each record with its next *w* neighbors via
  ``lead`` — linear in rows, window-partitioned by block (never a
  single-partition window).

Recall caveat (documented, inherent to blocking): a pair whose edit
lands inside the blocking prefix, or that sorts more than *w* apart,
is missed. Multi-pass blocking (different prefixes / reversed keys)
is the standard remedy and composes by unioning calls.

Skew: a hot prefix block degenerates toward that block's quadratic
term. ``block_chars`` tunes selectivity; AQE skew-join splitting
handles residual hot blocks at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _blocked(df: DataFrame, id_col: str, key_col: str, block_chars: int,
             side: str) -> DataFrame:
    key = F.lower(F.trim(F.col(key_col)))
    return df.select(
        F.col(id_col).alias(f"{side}_id"),
        key.alias(f"{side}_key"),
        F.substring(key, 1, block_chars).alias("__block"),
        F.length(key).alias(f"__len_{side}"),
    ).where(F.length(key) >= block_chars)


def fuzzy_join(df_a: DataFrame, df_b: DataFrame, id_col: str,
               key_col: str, max_distance: int = 2,
               block_chars: int = 3) -> DataFrame:
    """Blocked edit-distance join: rows of ``df_a`` × ``df_b`` whose
    lowercase-trimmed ``key_col`` values share a ``block_chars`` prefix
    and sit within ``max_distance`` Levenshtein edits.

    Returns ``(a_id, b_id, a_key, b_key, distance)``. One shuffle per
    side on the block key; the length-band filter prunes candidates
    before the edit-distance computation.
    """
    a = _blocked(df_a, id_col, key_col, block_chars, "a")
    b = _blocked(df_b, id_col, key_col, block_chars, "b")
    return (
        a.join(b, "__block")
         .where(F.abs(F.col("__len_a") - F.col("__len_b"))
                <= max_distance)
         .withColumn("distance",
                     F.levenshtein(F.col("a_key"), F.col("b_key"),
                                   max_distance))
         .where(F.col("distance") >= 0)  # threshold form: -1 if above
         .select("a_id", "b_id", "a_key", "b_key", "distance")
    )


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, key_col: str,
                              window: int = 3,
                              block_chars: int = 1) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo): within each
    blocking-prefix partition, sort records by the normalized key and
    emit each record paired with its next ``window`` neighbors.

    Returns ``(a_id, b_id, a_key, b_key, distance)`` with ``distance``
    the Levenshtein distance of the candidate pair (callers filter to
    their threshold). Cost is rows × window — linear, no self-join;
    the sort is per-block (window partitioned by the blocking prefix),
    so no global single-partition sort exists in the plan.
    """
    from pyspark.sql.window import Window

    key = F.lower(F.trim(F.col(key_col)))
    base = df.select(
        F.col(id_col).alias("a_id"),
        key.alias("a_key"),
        F.substring(key, 1, block_chars).alias("__block"),
    ).where(F.length(key) >= block_chars)
    w = Window.partitionBy("__block").orderBy("a_key", "a_id")
    cols = []
    for i in range(1, window + 1):
        cols.append(F.struct(
            F.lead("a_id", i).over(w).alias("b_id"),
            F.lead("a_key", i).over(w).alias("b_key")))
    return (
        base.withColumn("__nbrs", F.array(*cols))
            .select("a_id", "a_key",
                    F.explode("__nbrs").alias("__n"))
            .where(F.col("__n.b_id").isNotNull())
            .select(
                "a_id", F.col("__n.b_id").alias("b_id"),
                "a_key", F.col("__n.b_key").alias("b_key"),
                F.levenshtein(F.col("a_key"),
                              F.col("__n.b_key")).alias("distance"))
    )


def neighborhood_pairs(df: DataFrame, id_col: str,
                       order_cols, block_cols,
                       carry_cols=(), window: int = 3) -> DataFrame:
    """Generalized sorted-neighborhood candidate generation
    (Hernández & Stolfo) that CARRIES attribute columns onto both
    sides of each pair: within each ``block_cols`` partition, sort by
    ``order_cols`` (id appended as the tie-break) and pair each
    record with its next ``window`` neighbors via ``lead``.

    Returns ``(a_id, b_id, a_<c>, b_<c> ...)`` for each carry column —
    ready for downstream scoring (:func:`fellegi_sunter`) without the
    attribute join-back that :func:`sorted_neighborhood_pairs`
    callers would otherwise pay twice.

    Scale shape: pair count is rows × window — LINEAR, never the
    within-block quadratic of a block self-join; the only shuffle is
    the window's hash partition on ``block_cols``, and each unordered
    pair is emitted exactly once (lead looks strictly forward). A hot
    block costs a big sort, not a quadratic explosion.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    order_cols = list(order_cols)
    block_cols = list(block_cols)
    carry_cols = list(carry_cols)
    if not block_cols:
        raise ValueError("block_cols must be non-empty (a global "
                         "sort would single-partition at scale)")
    if "id" in carry_cols:
        # a_id/b_id are the PAIR's record-id outputs; carrying a
        # column literally named 'id' would emit duplicate a_id/b_id
        # columns — alias it before calling
        raise ValueError("carry column 'id' collides with the a_id/"
                         "b_id pair outputs; alias it first")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*block_cols).orderBy(*order_cols, id_col)
    # the neighbor id rides under a collision-proof internal field —
    # a carry column literally named "id" must not shadow it
    payload = F.struct(F.col(id_col).alias("__nid"),
                       *[F.col(c).alias(c) for c in carry_cols])
    nbrs = F.array(*[F.lead(payload, i).over(w)
                     for i in range(1, window + 1)])
    return (
        df.withColumn("__nbrs", nbrs)
          .select(F.col(id_col).alias("a_id"),
                  *[F.col(c).alias(f"a_{c}") for c in carry_cols],
                  F.explode("__nbrs").alias("__n"))
          .where(F.col("__n.__nid").isNotNull())
          .select("a_id", F.col("__n.__nid").alias("b_id"),
                  *[F.col(f"a_{c}") for c in carry_cols],
                  *[F.col(f"__n.{c}").alias(f"b_{c}")
                    for c in carry_cols])
    )


def golden_records(df: DataFrame, pairs: DataFrame,
                   id_col: str = "rec_id",
                   completeness_cols: list[str] | None = None,
                   recency_col: str | None = None,
                   id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Survivorship: consolidate linked records into ONE golden record
    per entity. ``pairs`` is a match-pair table (from ``fuzzy_join``,
    ``sorted_neighborhood_pairs``, or any matcher); entities are the
    connected components of the pair graph — transitively, so A~B and
    B~C merge even when A~C was never a candidate pair. The survivor
    per entity is chosen by (most non-null ``completeness_cols``,
    newest ``recency_col``, lowest id) — the standard MDM survivorship
    rule, fully deterministic. Returns the surviving rows with
    ``entity_id`` (the minimum member id), ``completeness`` and
    ``n_members`` attached; records in no pair survive untouched as
    single-member entities.

    Scale shape (the ``dedup_keep_best`` contract): match pairs are
    rare-event-sized; entities come from one
    :func:`~pandas_ai_spark.functions.graph.connected_components` call,
    which labels a small pair graph with a driver-local union-find in
    one collect and a large one by large-star/small-star contraction
    (entity graphs produced by multi-pass blocking are CHAINS, which
    that contraction converges on in O(log^2 n) rounds). Either way
    the survivorship window partitions the LINKED member
    frame only (~|pairs|); the corpus at large is touched by one
    id-keyed left anti-join and passes through untouched. No
    full-corpus window, no corpus collect.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    comp_cols = completeness_cols or []
    for c in comp_cols:
        if c not in df.columns:
            raise ValueError(f"completeness column {c!r} not in df")
    completeness = F.lit(0)
    for c in comp_cols:
        completeness = completeness + F.col(c).isNotNull().cast("int")

    labels = (connected_components(pairs, src=id_a, dst=id_b)
              .select(F.col("node").alias(id_col),
                      F.col("component").alias("entity_id")))
    linked = (df.join(labels, id_col)
                .withColumn("completeness", completeness))
    order = [F.col("completeness").desc()]
    if recency_col is not None:
        order.append(F.col(recency_col).desc_nulls_last())
    order.append(F.col(id_col).asc())
    w = Window.partitionBy("entity_id").orderBy(*order)
    wc = Window.partitionBy("entity_id")
    golden_linked = (linked
                     .withColumn("n_members",
                                 F.count(F.lit(1)).over(wc).cast("bigint"))
                     .withColumn("__rn", F.row_number().over(w))
                     .where(F.col("__rn") == 1)
                     .drop("__rn"))
    untouched = (df.join(labels.select(id_col), id_col, "left_anti")
                   .withColumn("entity_id", F.col(id_col))
                   .withColumn("completeness", completeness)
                   .withColumn("n_members", F.lit(1).cast("bigint")))
    cols = ["entity_id"] + df.columns + ["completeness", "n_members"]
    return golden_linked.select(*cols).unionByName(
        untouched.select(*cols))


def fellegi_sunter(pairs: DataFrame,
                   comparisons: Sequence[tuple],
                   upper: float = 3.0, lower: float = 0.0
                   ) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring (JASA
    1969 — the model behind Splink/RecordLinkage): each candidate
    pair accumulates per-field log2 likelihood weights,
    ``agree -> log2(m/u)``, ``disagree -> log2((1-m)/(1-u))``, where
    ``m``/``u`` are the field's match/unmatch agreement
    probabilities; the total classifies the pair (``match`` at
    ``>= upper``, ``possible`` at ``>= lower``, else ``non_match``
    — the review band of the original paper). ``comparisons`` is a
    sequence of ``(name, agree_sql_expr, m, u)``; NULL agreement
    evaluates as disagreement via an explicit coalesce. Appends one
    boolean per field plus ``fs_score`` and ``decision``.

    Determinism: the weights are Python-computed double literals
    folded into the plan (shareable verbatim with any SQL oracle),
    and the score is a fixed-order sum of per-field literals —
    bit-identical across engines.

    Scale shape: ENTIRELY row-local over the candidate-pair stream —
    the blocking join upstream decides the cost; scoring adds no
    shuffle, no state, no Python. This is the scoring stage between
    blocking (sorted_neighborhood / block equi-joins) and clustering
    (:func:`golden_records`).
    """
    import math

    if not comparisons:
        raise ValueError("comparisons must be non-empty")
    if upper < lower:
        raise ValueError("upper must be >= lower")
    out = pairs
    score = None
    for name, expr, m, u in comparisons:
        if not (0.0 < m < 1.0 and 0.0 < u < 1.0):
            raise ValueError(f"{name}: m and u must be in (0, 1)")
        agree = F.coalesce(F.expr(expr), F.lit(False))
        w = F.when(agree, F.lit(math.log2(m / u))) \
             .otherwise(F.lit(math.log2((1.0 - m) / (1.0 - u))))
        out = out.withColumn(name, agree)
        score = w if score is None else score + w
    out = out.withColumn("fs_score", score)
    return out.withColumn(
        "decision",
        F.when(F.col("fs_score") >= F.lit(float(upper)),
               F.lit("match"))
         .when(F.col("fs_score") >= F.lit(float(lower)),
               F.lit("possible"))
         .otherwise(F.lit("non_match")))
