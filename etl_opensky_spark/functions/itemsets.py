"""Frequent-itemset mining: the A-priori pair step.

Market-basket co-occurrence ("parts ordered together") is the classic
warehouse follow-on to the reference's star schema — and the naive
formulation self-joins the full basket-item table, exploding
quadratically per basket.  The A-priori principle (Agrawal & Srikant
1994) is the scale lever: a pair can only be frequent if BOTH items
are frequent, so the basket-item table is pruned to frequent items
BEFORE any pair is generated.  On heavy-tailed item distributions
(most items rare) the pruning removes most of the pair volume without
changing the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["frequent_pairs"]


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int,
    min_pair_support: int = 2,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Frequent co-occurring item pairs: ``(item_a, item_b,
    n_baskets)`` for every unordered pair of FREQUENT items appearing
    together in ≥ ``min_pair_support`` distinct baskets.

    Scale shape: basket-item pairs are DISTINCT'd once (map-side
    combine) and checkpointed — the table feeds both the item-support
    count and the pair join; item-support pruning runs as a semi join
    BEFORE the pair self-join (A-priori), so pair volume is quadratic
    only in frequent items per basket; the pair join itself is an
    equi-join on the basket key.  ``max_basket_items`` optionally
    drops pathological mega-baskets (a promo order touching every
    part) — the documented skew guard; ``None`` keeps exact
    semantics.
    """
    items = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        # feeds the support count AND the pruned pair join (Catalyst does
        # not reuse the exchange)
        .localCheckpoint()
    )
    if max_basket_items is not None:
        sizes = items.groupBy("basket").agg(F.count("*").alias("_bn"))
        items = (
            items.join(
                sizes.filter(F.col("_bn") <= max_basket_items).select("basket"),
                "basket",
                "left_semi",
            )
        )
    freq = (
        items.groupBy("item")
        .agg(F.count("*").alias("_support"))
        .filter(F.col("_support") >= min_item_support)
        .select("item")
    )
    pruned = items.join(freq, "item", "left_semi")
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_pair_support)
    )
