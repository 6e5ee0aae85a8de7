"""Frequent-itemset pair mining with Apriori pruning (market basket).

Agrawal & Srikant, "Fast Algorithms for Mining Association Rules",
VLDB 1994: a pair can only be frequent if BOTH items are — so the
basket self-join that enumerates candidate pairs runs over the
frequent-item-filtered baskets only.  At 100 TB that pruning is the
whole ballgame: the raw pair explosion is quadratic in basket size,
but after the support filter the join touches only items that can
matter, and the per-basket pair count collapses with the item
frequency tail.

Plan shape: one distinct projection (basket, item), one item-support
groupBy, a semi-join-style prune (AQE broadcasts the frequent-item set
at runtime while it fits the session's broadcast threshold), ONE
equi-join on the basket key with ``item_a < item_b`` to canonicalize,
one pair groupBy, and lift from a 1-row broadcast of the basket count.
Top-k is TakeOrderedAndProject with a deterministic
(support DESC, item_a, item_b) tie-break.

Capped-corpus semantics: when ``max_basket_size`` BINDS (an oversized
basket was dropped), every statistic — pair counts, item supports,
basket count, hence lift/confidence/cosine — is recomputed over the
CAPPED corpus (the corpus with the oversized baskets removed
entirely), so numerators and denominators always describe the same
population.  When the cap does not bind (the overwhelmingly common
case) the plan is byte-identical to the uncapped one.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin

logger = logging.getLogger(__name__)


def cap_basket_size(
    pruned: DataFrame,
    max_basket_size: int | None,
    *,
    basket_col: str = "bk",
) -> tuple[DataFrame, int]:
    """Drop baskets whose post-prune item count exceeds
    ``max_basket_size`` before a basket self-join; returns
    ``(capped_frame, n_dropped_baskets)``.

    Apriori pruning bounds the item VOCABULARY but not a single basket:
    one bot user with 10k distinct items contributes ~5e7 pairs from one
    join key — a straggler/OOM at scale no matter how rare.  The guard
    is the standard fix (e.g. Spark MLlib's FPGrowth treats oversized
    transactions the same way: bound the per-key blowup, never let one
    key dominate the shuffle).

    No-silent-caps rule: when the cap binds, the dropped-basket count is
    computed (one basket-sized aggregate), logged loudly, and RETURNED
    so callers can keep their denominators consistent with the capped
    corpus.  When it does not bind — the overwhelmingly common case —
    the input frame is returned UNCHANGED, so no join is added to the
    plan and existing plan-shape CI stays valid.

    The guard's size aggregate is one extra job over the pruned frame;
    its input, the ``baskets:items`` pin, is already materialized, so
    the job re-runs only the cheap prune join.  Nothing is persisted:
    that pin is a fresh ``localCheckpoint`` on every build, so a cache
    entry keyed on the pruned plan could never be shared between builds
    and would only accumulate in the session's CacheManager.
    """
    if max_basket_size is None:
        return pruned, 0
    if max_basket_size < 2:
        raise ValueError("max_basket_size must be >= 2")
    sizes = pruned.groupBy(basket_col).agg(
        F.count(F.lit(1)).alias("__bk_n")
    )
    # when the cap binds, the anti-join below reads the pinned frame
    # instead of re-running the size aggregate
    oversized, m = pin(
        sizes.where(F.col("__bk_n") > max_basket_size),
        "basket_cap:oversized",
        n=F.count(F.lit(1)),
    )
    n_over = m["n"]
    if n_over == 0:
        return pruned, 0
    logger.warning(
        "cap_basket_size: dropping %d basket(s) larger than %d items "
        "before the pair self-join (no-silent-caps: raise "
        "max_basket_size to include them); all supports and basket "
        "counts are recomputed over the capped corpus",
        n_over,
        max_basket_size,
    )
    return (
        pruned.join(oversized.select(basket_col), basket_col, "left_anti"),
        n_over,
    )


def _basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int,
    max_basket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared mining core for :func:`frequent_pairs` /
    :func:`association_rules` / ``ml.recommend.item_similarity_topk``:
    returns ``(pairs, n_baskets)`` where ``pairs`` has
    ``(item_a, item_b, n_a, n_b, n_pair)`` (unfiltered by pair support)
    and ``n_baskets`` is a 1-row frame ``(__nb)`` holding the basket
    count of the SAME corpus the pair counts were taken from (capped
    when the cap binds)."""
    # the distinct (basket, item) frame feeds the support table, the
    # prune join, and the basket count — pin it once, four cheap
    # consumers (guide §1.2: remove repeated passes)
    b, _ = pin(
        df.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct(),
        "baskets:items",
    )
    support = b.groupBy("it").agg(F.count(F.lit(1)).alias("n_it"))
    freq = support.where(F.col("n_it") >= min_support)
    pruned, n_dropped = cap_basket_size(
        b.join(freq, "it").select("bk", "it", "n_it"),
        max_basket_size,
    )
    if n_dropped:
        # Capped-corpus consistency (see module docstring): the carried
        # pre-cap supports would overcount items that appeared in the
        # dropped baskets, so recompute them on the capped frame.  The
        # support floor is re-applied too — an item whose pre-cap
        # support cleared ``min_support`` only thanks to the dropped
        # baskets is below the floor on the capped corpus and must not
        # reach the pair join (callers like item_similarity_topk have
        # no later pair-support filter to subsume it).
        supp2 = (
            pruned.groupBy("it")
            .agg(F.count(F.lit(1)).alias("n_it"))
            .where(F.col("n_it") >= min_support)
        )
        pruned = pruned.select("bk", "it").join(supp2, "it")
    pairs = (
        pruned.alias("l")
        .join(pruned.alias("r"), "bk")
        .where(F.col("l.it") < F.col("r.it"))
        .groupBy(
            F.col("l.it").alias("item_a"),
            F.col("r.it").alias("item_b"),
            F.col("l.n_it").alias("n_a"),
            F.col("r.n_it").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_baskets = b.select("bk").distinct().agg(
        (F.count(F.lit(1)) - F.lit(n_dropped)).alias("__nb")
    )
    return pairs, n_baskets


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 3,
    top_k: int = 20,
    max_basket_size: int | None = 10_000,
) -> DataFrame:
    """Top-``top_k`` co-occurring item pairs:
    ``(item_a, item_b, n_pair, n_a, n_b, lift)`` over distinct
    (basket, item) incidences; pairs and both items must reach
    ``min_support`` baskets.  ``lift = n_baskets * n_pair /
    (n_a * n_b)`` (>1 means the items attract).  When
    ``max_basket_size`` binds, every count describes the capped corpus
    (module docstring)."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    pairs, n_baskets = _basket_pairs(
        df,
        basket_col,
        item_col,
        min_support=min_support,
        max_basket_size=max_basket_size,
    )
    return (
        pairs.where(F.col("n_pair") >= min_support)
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "n_a",
            "n_b",
            (
                F.col("__nb").cast("double")
                * F.col("n_pair").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_pair").desc(), "item_a", "item_b")
        .limit(top_k)
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 3,
    top_pairs: int = 20,
    max_basket_size: int | None = 10_000,
) -> DataFrame:
    """Directional association rules from the top frequent pairs
    (Agrawal, Imielinski & Swami, SIGMOD 1993): each mined pair yields
    the two rules ``a -> b`` and ``b -> a`` with

        support    = n_pair / n_baskets
        confidence = n_pair / n_antecedent
        lift       = n_baskets * n_pair / (n_a * n_b)

    Built on the SAME :func:`_basket_pairs` core as
    :func:`frequent_pairs` — the Apriori prune and the single basket
    self-join are shared, and ``n_baskets`` is the core's
    capped-corpus-consistent count (one 1-row broadcast), so support,
    confidence and lift all describe the same population even when the
    basket cap binds.  Confidence/support are single divisions of exact
    integers (engine-exact); rules order by confidence DESC with
    (antecedent, consequent) tie-break.

    Returns ``2 * top_pairs`` rows: ``(antecedent, consequent, n_pair,
    n_ant, n_cons, support, confidence, lift)``.
    """
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    pairs, n_baskets = _basket_pairs(
        df,
        basket_col,
        item_col,
        min_support=min_support,
        max_basket_size=max_basket_size,
    )
    fp = (
        pairs.where(F.col("n_pair") >= min_support)
        .orderBy(F.col("n_pair").desc(), "item_a", "item_b")
        .limit(top_pairs)
    )
    # both rule directions from ONE reference to fp: the old two-leg
    # union duplicated the pair-aggregate + global-sort + limit subtree
    # in the static plan (r15, guide §2.4 — same rewrite as
    # ml/recommend.py item_similarity_topk); the final orderBy below
    # fixes row order, so the emitted SET is identical
    rules = fp.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("n_pair").alias("n_pair"),
                    F.col("n_a").alias("n_ant"),
                    F.col("n_b").alias("n_cons"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("n_pair").alias("n_pair"),
                    F.col("n_b").alias("n_ant"),
                    F.col("n_a").alias("n_cons"),
                ),
            )
        ).alias("__r")
    ).select("__r.*").crossJoin(F.broadcast(n_baskets))
    return (
        rules.select(
            "antecedent",
            "consequent",
            "n_pair",
            "n_ant",
            "n_cons",
            (
                F.col("n_pair").cast("double")
                / F.col("__nb").cast("double")
            ).alias("support"),
            (
                F.col("n_pair").cast("double")
                / F.col("n_ant").cast("double")
            ).alias("confidence"),
            (
                F.col("__nb").cast("double")
                * F.col("n_pair").cast("double")
                / (
                    F.col("n_ant").cast("double")
                    * F.col("n_cons").cast("double")
                )
            ).alias("lift"),
        )
        .orderBy(F.col("confidence").desc(), "antecedent", "consequent")
    )
