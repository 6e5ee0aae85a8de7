"""Item-to-item collaborative filtering (co-occurrence similarity).

Public algorithm: Linden, Smith & York, "Amazon.com Recommendations:
Item-to-Item Collaborative Filtering" (IEEE Internet Computing 2003);
Sarwar et al., "Item-Based Collaborative Filtering Recommendation
Algorithms" (WWW 2001).  Similarity between items a and b is the
cosine over binary basket incidence vectors, which reduces to
``n_ab / sqrt(n_a * n_b)`` — everything derives from exact integer
co-occurrence counts, so the whole neighbor table is SQL-replayable.

Scale shape (the same Apriori discipline as ml/itemsets.py): the
quadratic basket self-join runs AFTER the min-count item prune, pair
counts collapse by item-frequency tail, and the per-item top-k ranking
window partitions BY ITEM, so the ranking distributes across the item
vocabulary instead of single-reducing.  The reference has no
recommender surface; this is Spark-native value-add alongside the
ANN/similarity family (sim/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.ml.itemsets import _basket_pairs


def item_similarity_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_count: int = 2,
    k: int = 5,
    max_basket_size: int | None = 10_000,
) -> DataFrame:
    """Top-``k`` cosine neighbors per item:
    ``(item, neighbor, n_item, n_neighbor, n_both, cosine, rank)``
    over distinct (basket, item) incidences.  Items below ``min_count``
    baskets are pruned BEFORE the pair join; ties break
    (cosine DESC, neighbor ASC) so ranks are deterministic.  When
    ``max_basket_size`` binds, co-occurrence counts AND item supports
    both describe the capped corpus (ml/itemsets.py module docstring),
    so the cosine never mixes capped numerators with uncapped
    denominators."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs, _ = _basket_pairs(
        df,
        basket_col,
        item_col,
        min_support=min_count,
        max_basket_size=max_basket_size,
    )
    pairs = pairs.withColumnRenamed("n_pair", "n_both")
    # symmetrize by exploding each pair row into its two orientations
    # instead of a two-leg union: the union referenced `pairs` twice,
    # so the basket self-join's reduce-side aggregate ran once PER LEG
    # (duplicated subtree in the static plan — r15, guide §2.4); the
    # explode emits the identical rows from ONE reference
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item"),
                    F.col("item_b").alias("neighbor"),
                    F.col("n_a").alias("n_item"),
                    F.col("n_b").alias("n_neighbor"),
                    F.col("n_both").alias("n_both"),
                ),
                F.struct(
                    F.col("item_b").alias("item"),
                    F.col("item_a").alias("neighbor"),
                    F.col("n_b").alias("n_item"),
                    F.col("n_a").alias("n_neighbor"),
                    F.col("n_both").alias("n_both"),
                ),
            )
        ).alias("__s")
    ).select("__s.*")
    cosine = F.col("n_both").cast("double") / F.sqrt(
        F.col("n_item").cast("double") * F.col("n_neighbor").cast("double")
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        sym.withColumn("cosine", cosine)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "item", "neighbor", "n_item", "n_neighbor", "n_both",
            "cosine", "rank",
        )
    )
