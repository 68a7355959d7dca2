"""Co-occurrence mining: frequent item pairs and association strength.

Market-basket analysis (which items ship together, which query terms
co-occur, which domains co-cite) is the 2-itemset core of FP-growth /
Apriori. At 100 TB the full lattice is pointless — what production
pipelines actually compute is the PAIR level with support/confidence/
lift, and that is expressible with TWO shuffles total:

1. ``groupBy(basket).collect_set(item)`` — one shuffle; dedups
   quantity noise and yields each basket's sorted, capped item array
   (the cap bounds the quadratic term — a pathological basket with
   10⁵ items would otherwise emit 5·10⁹ pairs on its own);
2. pair expansion ROW-LOCALLY from the sorted array (nested
   ``transform`` + ``flatten`` + ``explode`` — every unordered pair
   once, never a self-join that recomputes the basket pass per side,
   never a cross join), then one aggregation per pair.

Per-item counts and the basket total reuse the persisted basket-array
table (|baskets| rows, managed lifetime via ``operator_persist``), and
the lift denominators ride broadcast lookups. Partial aggs apply, AQE
splits skewed pairs, nothing touches Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import operator_persist
from .skew import _fanout_if_narrow


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_items_per_basket: int = 1000,
) -> DataFrame:
    """All unordered item pairs co-occurring in at least ``min_support``
    baskets, with association metrics.

    Returns ``(item_a, item_b, support, support_a, support_b,
    confidence, lift)`` where ``support`` counts baskets containing
    both items, ``confidence = support / support_a`` (a→b), and
    ``lift = support · N / (support_a · support_b)`` with ``N`` the
    total basket count — lift > 1 means the pair co-occurs more than
    independence predicts.

    Baskets larger than ``max_items_per_basket`` are truncated to their
    ``max_items_per_basket`` smallest items (deterministic — the sorted
    array is sliced before expansion, so the cut costs nothing) — the
    documented guard against quadratic blowup on degenerate baskets.
    """
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    arr = F.array_sort(F.collect_set("__i"))
    if max_items_per_basket:
        arr = F.slice(arr, 1, int(max_items_per_basket))
    # one basket-keyed shuffle; persisted because three consumers read
    # it (pair expansion, per-item counts, the basket total). A narrow
    # input is fanned out on the basket: that exchange serves the
    # basket grouping too, so the collect_set runs on every core
    baskets = operator_persist(
        _fanout_if_narrow(
            df.select(F.col(basket_col).alias("__b"),
                      F.col(item_col).alias("__i"))
              .where(F.col("__i").isNotNull()), "__b")
          .groupBy("__b").agg(arr.alias("__items")))

    # ONE scalar to the driver (the q53/q58 pattern — a count, not
    # data): attaching N as a literal keeps the lift projection
    # row-local instead of planning a 1-row nested-loop cross join
    n_baskets = baskets.count()
    item_counts = (baskets
                   .select(F.explode("__items").alias("__i"))
                   .groupBy("__i").agg(F.count("*").alias("__ni")))

    # row-local unordered-pair expansion over the SORTED array:
    # element i pairs with every later element, so item_a < item_b by
    # construction and each pair appears exactly once per basket
    pair_structs = F.flatten(F.transform(
        F.col("__items"),
        lambda x, i: F.transform(
            F.slice(F.col("__items"), i + 2,
                    F.greatest(F.size("__items") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (baskets
             .select(F.explode(pair_structs).alias("__p"))
             .groupBy(F.col("__p.a").alias("item_a"),
                      F.col("__p.b").alias("item_b"))
             .agg(F.count("*").alias("support"))
             .where(F.col("support") >= int(min_support)))

    # lift denominators: item counts are |distinct items| rows —
    # broadcast both lookups
    pairs = (
        pairs
        .join(F.broadcast(item_counts.withColumnRenamed("__i", "item_a")
                          .withColumnRenamed("__ni", "support_a")),
              "item_a")
        .join(F.broadcast(item_counts.withColumnRenamed("__i", "item_b")
                          .withColumnRenamed("__ni", "support_b")),
              "item_b")
    )
    return pairs.select(
        "item_a", "item_b", "support", "support_a", "support_b",
        (F.col("support") / F.col("support_a")).alias("confidence"),
        (F.col("support").cast("double") * F.lit(int(n_baskets))
         / (F.col("support_a").cast("double") * F.col("support_b")))
        .alias("lift"),
    )


def association_rules(pairs: DataFrame,
                      min_confidence: float = 0.0) -> DataFrame:
    """Directed association rules from a :func:`frequent_pairs` table:
    each unordered pair expands ROW-LOCALLY into its two directions
    with ``(antecedent, consequent, support, confidence, lift,
    leverage, conviction)`` — confidence is direction-specific
    (``support/support_antecedent``), lift/leverage are symmetric,
    conviction is ``(1 − P(consequent)) / (1 − confidence)`` (NULL for
    exact rules, where it is +∞). Rules below ``min_confidence`` are
    dropped.

    Shape: zero shuffles — the input is the (already tiny,
    min-support-filtered) pair table and the expansion is a row-local
    explode of a 2-element struct array. The basket total is recovered
    arithmetically from lift (``N = lift·sa·sb/support`` — exact in
    doubles for any realistic corpus), so no re-scan of the source.
    """
    n = F.round(F.col("lift") * F.col("support_a")
                * F.col("support_b") / F.col("support"))
    both = pairs.select(
        "*", n.alias("__n"),
        F.explode(F.array(
            F.struct(F.col("item_a").alias("antecedent"),
                     F.col("item_b").alias("consequent"),
                     F.col("support_a").alias("__s_ante"),
                     F.col("support_b").alias("__s_cons")),
            F.struct(F.col("item_b").alias("antecedent"),
                     F.col("item_a").alias("consequent"),
                     F.col("support_b").alias("__s_ante"),
                     F.col("support_a").alias("__s_cons")),
        )).alias("__r"))
    conf = F.col("support") / F.col("__r.__s_ante")
    p_cons = F.col("__r.__s_cons") / F.col("__n")
    conviction = F.when(conf < 1.0, (1.0 - p_cons) / (1.0 - conf))
    leverage = (F.col("support") / F.col("__n")
                - (F.col("__r.__s_ante") / F.col("__n")) * p_cons)
    return (both.select(
        F.col("__r.antecedent").alias("antecedent"),
        F.col("__r.consequent").alias("consequent"),
        "support", conf.alias("confidence"), "lift",
        leverage.alias("leverage"), conviction.alias("conviction"))
        .where(F.col("confidence") >= float(min_confidence)))
