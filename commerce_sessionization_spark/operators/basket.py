"""Market-basket analysis: frequent pairs and association rules.

The commerce-analytics classic the reference's domain implies but never
ships (its Scala surface stops at sessionization — see
``/root/reference/src/main/scala`` — so this belongs to the additive
analytics surface, like the funnel and cohort operators): which items
co-occur in the same order, and which co-occurrences are informative
(lift) rather than merely popular.

Implementation is the two A-Priori passes, expressed as DataFrame ops so
Catalyst keeps every stage shuffled on a uniform key:

1. **Pass 1** — per-item basket counts, filtered to ``min_support``.
   This is THE scale lever: the pass-2 self-join only ever touches items
   that survive, so the long tail (most of a 100 TB catalog) never
   enters the quadratic stage. The surviving set is bounded above by
   ``1 / min_support`` items and is broadcast, not shuffled.
2. **Pass 2** — self-join WITHIN basket over the pruned items with
   ``item_a < item_b``: per-basket fanout is C(k,2) on the *pruned*
   basket size k, bounded by real basket cardinality (single digits in
   commerce), never by catalog size. Shuffle key is the basket id —
   uniform by construction.
3. **Rules** — each surviving pair emits both directions;
   ``confidence = P(b|a)`` and ``lift = P(b|a) / P(b)`` come from one
   broadcast join back to the pass-1 counts.

``n_baskets`` is a driver scalar (one count job): legitimate at any
scale — it is one number, and inlining it as a literal keeps the rule
arithmetic in codegen instead of a crossJoin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.session import pin


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.01,
    min_confidence: float = 0.0,
) -> DataFrame:
    """Association rules ``antecedent -> consequent`` over baskets.

    Returns one row per directed rule whose antecedent, consequent, and
    pair all meet ``min_support`` (fraction of baskets), with columns
    ``antecedent, consequent, pair_count, antecedent_count,
    consequent_count, confidence, lift``. Multiplicity within a basket
    is ignored (set semantics), matching the standard formulation.
    Eager: building this DataFrame runs a Spark job (``session.pin``).
    """
    # pinned: the distinct item set feeds THREE consumers — the eager
    # n_baskets count below, the pass-1 frequency aggregate, and the
    # pass-2 probe join — and its subtree re-reads (and re-distincts)
    # the fact table per consumer when unpinned.
    items = pin(
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
    )

    n_baskets = items.select("basket").distinct().count()
    min_count = max(1, int(min_support * n_baskets + 0.5))

    item_counts = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_count"))
        .filter(F.col("item_count") >= min_count)
    )

    # prune to frequent items BEFORE the quadratic stage
    frequent = items.join(F.broadcast(item_counts), "item")

    # pass 2 as within-basket array combinations rather than a self-join:
    # a self-join would derive the (scan -> distinct -> count-join)
    # subtree TWICE (and Spark re-reads the source for each), while one
    # groupBy(basket) + combination-explode touches the fact table once.
    # Fanout is C(k,2) on the pruned basket size k — bounded by real
    # basket cardinality, never by catalog size.
    per_basket = frequent.groupBy("basket").agg(
        F.array_sort(
            F.collect_list(F.struct("item", "item_count"))
        ).alias("ia")
    )
    ia = F.col("ia")
    combos = F.flatten(
        F.transform(
            ia,
            lambda x, i: F.transform(
                F.slice(ia, i + F.lit(2), F.size(ia)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        per_basket.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.a.item").alias("item_a"),
            F.col("p.b.item").alias("item_b"),
            F.col("p.a.item_count").alias("count_a"),
            F.col("p.b.item_count").alias("count_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )

    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_count",
        F.col("count_a").alias("antecedent_count"),
        F.col("count_b").alias("consequent_count"),
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "pair_count",
        F.col("count_b").alias("antecedent_count"),
        F.col("count_a").alias("consequent_count"),
    )
    rules = fwd.unionByName(rev).withColumn(
        "confidence",
        F.col("pair_count").cast("double") / F.col("antecedent_count"),
    )
    rules = rules.withColumn(
        "lift",
        F.col("confidence")
        * F.lit(float(n_baskets))
        / F.col("consequent_count"),
    )
    return rules.filter(F.col("confidence") >= min_confidence)
