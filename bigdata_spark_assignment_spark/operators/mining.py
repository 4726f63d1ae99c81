"""Frequent-itemset / association-rule mining (market-basket
analysis) — the FP-growth-shaped capability of the reference's
aggregation surface (SURVEY.md §2.9 extensions), built Apriori-style
on relational primitives so Catalyst keeps every pass.

Naive pair mining self-joins the raw basket table with itself — at
100 TB that is a basket-keyed shuffle of the FULL item stream twice,
and the pair fan-out is Σ_b |b|², unbounded for mega-baskets. The
operators here keep three scale levers:

1. **Apriori pruning before pair generation** (downward closure: a
   pair can only be frequent if both items are). Item supports are one
   groupBy over the deduplicated basket table; the surviving item set
   is small by construction (it passed a support threshold), so it
   broadcasts, and the basket table is pruned with a broadcast
   semi-join BEFORE any self-join. On skewed real corpora this drops
   the dominant long tail of the item domain.
2. **One shuffle, reused.** The pruned basket table is hash-partitioned
   on the basket key once and persisted; the pair self-join is then
   co-partitioned (no second exchange of either side) and emits only
   ``item_a < item_b`` ordered pairs, each pair counted once per
   basket (the input is deduplicated per (basket, item)).
3. **Bounded fan-out.** ``max_basket_items`` caps the per-basket
   explosion (the classic mega-basket guard: a 10⁶-item basket would
   emit 5·10¹¹ pairs). Over-cap baskets are DROPPED — documented
   Apriori-sampling semantics, deterministic — pick the cap above the
   real P99.9 basket size.

Association rules are then pure arithmetic over the two small
aggregates (pair supports × broadcast item supports): confidence
P(b|a), lift P(ab)/(P(a)P(b)) — every number exactly re-derivable in
ANSI SQL, which is what the q72 oracle does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache


def basket_items(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Deduplicated (basket, item) pairs — the canonical basket table.

    One hash aggregate on (basket, item); presence, not multiplicity,
    is what itemset support counts."""
    return (df.select(F.col(basket_col).alias("basket"),
                      F.col(item_col).alias("item"))
            .filter(F.col("item").isNotNull())
            .distinct())


def frequent_items(baskets: DataFrame, min_count: int) -> DataFrame:
    """Items appearing in ≥ ``min_count`` baskets → (item, item_count).

    Input is the deduplicated basket table from ``basket_items``."""
    return (baskets.groupBy("item")
            .agg(F.count(F.lit(1)).alias("item_count"))
            .filter(F.col("item_count") >= int(min_count)))


def _pair_counts(baskets: DataFrame, keep_items: DataFrame,
                 max_basket_items: int | None) -> DataFrame:
    """Apriori-pruned co-partitioned pair counting: (item_a < item_b,
    pair_count), one basket-keyed exchange, persisted (``cache.persist``,
    released when the next query starts) for the two self-join
    branches."""
    pruned = baskets.join(F.broadcast(keep_items.select("item")), "item",
                          "left_semi")
    if max_basket_items is not None:
        sizes = (pruned.groupBy("basket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .filter(F.col("__bsz") <= int(max_basket_items))
                 .select("basket"))
        pruned = pruned.join(sizes, "basket", "left_semi")
    pruned = cache.persist(pruned.repartition("basket"))
    a = pruned.select("basket", F.col("item").alias("item_a"))
    b = pruned.select("basket", F.col("item").alias("item_b"))
    return (a.join(b, "basket")
            .filter(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias("pair_count")))


def frequent_pairs(baskets: DataFrame, min_count: int,
                   max_basket_items: int | None = None) -> DataFrame:
    """Frequent item pairs (item_a < item_b, pair_count ≥ ``min_count``)
    via Apriori-pruned co-partitioned self-join.

    Plan: item supports → broadcast semi-join prune → (optional)
    basket-size cap → self-join on the basket key → pair hash
    aggregate. The self-join's two sides are the SAME pruned,
    repartitioned, persisted frame, so Spark plans one exchange and no
    re-scan; the pair aggregate is the only other shuffle and its key
    domain is (frequent items)², already support-bounded."""
    freq = frequent_items(baskets, min_count)
    return (_pair_counts(baskets, freq, max_basket_items)
            .filter(F.col("pair_count") >= int(min_count)))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_support: float = 0.01,
                      min_confidence: float = 0.0,
                      max_basket_items: int | None = None) -> DataFrame:
    """Pairwise association rules a→b over baskets.

    Returns (antecedent, consequent, pair_count, support, confidence,
    lift) for every frequent pair in BOTH directions, filtered to
    ``confidence ≥ min_confidence``. The support threshold is RELATIVE
    (fraction of baskets) so the same call scales from sf0.001 to
    100 TB without retuning; the absolute cutoff is derived from the
    basket count, a 1-row aggregate that broadcasts into the plan (no
    driver-side collect).

    All three metrics are plain ratios of exact counts — the q72
    oracle re-derives every row digit-for-digit."""
    baskets = cache.persist(
        basket_items(df, basket_col, item_col))
    n_baskets = baskets.select(
        F.countDistinct("basket").alias("n_baskets"))
    items = (frequent_items(baskets, 1)
             .crossJoin(F.broadcast(n_baskets)))
    items_f = cache.persist(items.filter(
        F.col("item_count") >= F.ceil(F.lit(float(min_support))
                                      * F.col("n_baskets"))))
    pairs = (_pair_counts(baskets, items_f, max_basket_items)
             .crossJoin(F.broadcast(n_baskets))
             .filter(F.col("pair_count")
                     >= F.ceil(F.lit(float(min_support))
                               * F.col("n_baskets"))))
    fwd = pairs.select(F.col("item_a").alias("antecedent"),
                       F.col("item_b").alias("consequent"),
                       "pair_count", "n_baskets")
    rev = pairs.select(F.col("item_b").alias("antecedent"),
                       F.col("item_a").alias("consequent"),
                       "pair_count", "n_baskets")
    cnt = items_f.select("item", "item_count")
    rules = (fwd.unionByName(rev)
             .join(F.broadcast(cnt.withColumnRenamed("item", "antecedent")
                               .withColumnRenamed("item_count", "n_a")),
                   "antecedent")
             .join(F.broadcast(cnt.withColumnRenamed("item", "consequent")
                               .withColumnRenamed("item_count", "n_b")),
                   "consequent")
             .select(
                 "antecedent", "consequent", "pair_count",
                 (F.col("pair_count") / F.col("n_baskets"))
                 .alias("support"),
                 (F.col("pair_count") / F.col("n_a")).alias("confidence"),
                 (F.col("pair_count") * F.col("n_baskets")
                  / (F.col("n_a") * F.col("n_b"))).alias("lift")))
    return rules.filter(F.col("confidence") >= float(min_confidence))
