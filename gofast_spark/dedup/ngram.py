"""Exact n-gram Jaccard near-duplicate detection.

Complements MinHash-LSH (``dedup.minhash``): same shingle universe, but
candidates come from a *rare-shingle block join* instead of probabilistic
band keys, and the Jaccard is computed exactly for every candidate — so
(with ``max_df=None``) the result is the EXACT set of pairs with
``jaccard >= threshold``, not an LSH approximation.

Scale design: the only quadratic-risk step is the self-equi-join on the
shingle hash, whose cost is ``sum_h df(h)^2`` over shingle document
frequencies.  ``max_df`` caps that: shingles occurring in more than
``max_df`` documents (boilerplate) are excluded from *candidate
generation only* — the exact Jaccard verify still uses every shingle.
With the cap, a pair is found iff it shares at least one sub-``max_df``
shingle; at realistic thresholds (>= 0.7) near-duplicates virtually
always share many rare shingles, and the join cost is bounded by
``max_df * |shingles|``.  This is the standard frequency-blocking used by
prefix-filter set-similarity joins (PPJoin family).

Reference: net-new per the builder brief (the reference's
``handle_duplicates``, gofast/dataops/quality.py:4677, is exact-only on
whole rows).  Published algorithm: set-similarity join with frequency
blocking (Xiao et al., PPJoin, WWW'08 — public literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.dedup.minhash import doc_shingles
from gofast_spark.session import pin


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with exact token-``k``-gram Jaccard >= threshold.

    Output columns: ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    ``max_df=None`` is fully exact (every co-occurring shingle generates a
    candidate).  A finite ``max_df`` blocks candidate generation to
    shingles appearing in <= ``max_df`` docs — the 100-TB path; see the
    module docstring for the (weak) completeness caveat it introduces.

    The shingle frame feeds the frequency filter, both block-join legs,
    both verify legs, and the size aggregate; it is persisted for the
    run, the small pair list is pinned, and the shingles are unpersisted
    before returning (same storage contract as ``near_dup_pairs``).
    """
    sh = doc_shingles(df, id_col, text_col, k=k).persist()
    try:
        return pin(
            _pairs_from_shingles(sh, id_col, threshold, max_df),
            "jaccard_pairs:pairs",
        )[0]
    finally:
        sh.unpersist()



def count_distinct_with_null_group(id_col: str):
    """Aggregate expression: number of DISTINCT ``id_col`` groups
    INCLUDING the null group — ``countDistinct`` alone silently drops
    null ids, which diverges from a ``count(*)``-over-unique-rows twin
    for even a single null row.  One definition shared by every dedup
    health-card layout (r14 review: the three copies must never drift;
    tests/test_dedup_index_layouts.py pins the layouts equal)."""
    return (
        F.countDistinct(id_col)
        + F.coalesce(
            F.max(
                F.when(F.col(id_col).isNull(), F.lit(1)).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
    ).cast("bigint")


def _measured_candidates(
    sh: DataFrame, id_col: str, max_df: int | None
) -> DataFrame:
    """Blocked candidate pairs with the exact intersection verify and
    both set sizes — (id_a, id_b, n_inter, n_a, n_b) — the shared core
    of the containment pairs and the dedup health-card report.

    r15 optimization (guide §2.3/§2.4 — shuffle fewer bytes, remove
    passes): the intersection count is read DIRECTLY off the PPJoin
    block self-join — for candidate pairs, every shared sub-``max_df``
    shingle is already a row of that join, so ``groupBy(pair).count``
    replaces BOTH the ``distinct`` candidate exchange and the old
    verify (re-joining every candidate against the FULL shingle frame:
    ``Σ_pairs n_sh(doc)`` expansion — 59M rows at sf0.1 for 1.13M
    candidates vs the 1.27M-row block join itself).  Shingles ABOVE
    ``max_df`` are excluded from the block join but still count toward
    the exact intersection, so a second, frequent-only leg adds their
    contribution: it expands candidates only by their FREQUENT shingles
    (boilerplate — a small, df-bounded fraction; empty whenever no
    shingle exceeds ``max_df``), never by the whole set.  The split is
    exact: rare/frequent partition the hash space, so
    ``n_inter = n_rare_shared + n_freq_shared``.

    r15 session-5 additions: the rare-leg pair table is referenced by
    BOTH the frequent-leg expansion and the final assembly, and the
    static plan duplicated its whole upstream (shingle scan + block
    join + pair aggregate ran twice per materialization; cold first
    pass 13.5 s vs 4.5 s at sf0.1).  It is now pinned once — a narrow
    candidate-pairs-sized frame
    (bounded by ``max_df * |shingles|``), the same storage contract the
    callers already apply to the final pair list.  Negative result,
    recorded so it is not re-tried: generating pairs via per-shingle
    ``sort_array(collect_list)`` + combination explode (1 exchange
    fewer than the self-join) measured SLOWER (1.71 vs 1.20 s warm at
    sf0.1) — interpreted HOF struct building loses to the codegen'd
    hash join."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        dfc = sh.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("__df"))
        block = sh.join(
            dfc.where(F.col("__df") <= max_df).select("sh_hash"),
            on="sh_hash",
            how="inner",
        )
    else:
        block = sh
    a = block.select(F.col(id_col).alias("id_a"), F.col("sh_hash").alias("__h"))
    b = block.select(F.col(id_col).alias("id_b"), F.col("sh_hash").alias("__h"))
    inter = (
        a.join(b, on="__h", how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if max_df is not None:
        # referenced by the freq leg AND the final assembly — pin once
        inter, _ = pin(inter, "ngram_candidates:rare_inter")
        fsh = sh.join(
            dfc.where(F.col("__df") > max_df).select("sh_hash"),
            on="sh_hash",
            how="inner",
        )
        fx = fsh.select(F.col(id_col).alias("id_a"), F.col("sh_hash").alias("__fh"))
        fy = fsh.select(F.col(id_col).alias("id_b"), F.col("sh_hash").alias("__fh"))
        finter = (
            inter.select("id_a", "id_b")
            .join(fx, "id_a")
            .join(fy, ["id_b", "__fh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__n_freq"))
        )
        inter = inter.join(finter, ["id_a", "id_b"], "left").select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                + F.coalesce(F.col("__n_freq"), F.lit(0))
            ).alias("n_inter"),
        )
    return inter.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )


def _pairs_from_shingles(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    max_df: int | None,
) -> DataFrame:
    # jaccard from the same (n_inter, n_a, n_b) triple the containment
    # path reads — bigint/bigint division, identical values to the old
    # shingle_jaccard verify at a fraction of its join volume
    m = _measured_candidates(sh, id_col, max_df)
    return m.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram CONTAINMENT >= threshold, where
    containment is ``|A ∩ B| / min(|A|, |B|)`` — Broder's containment
    coefficient symmetrized to the smaller set ("On the resemblance
    and containment of documents", SEQUENCES 1997).  Catches the
    subset-duplicates Jaccard misses: a short document embedded
    verbatim in a long one has low Jaccard (the union is large) but
    containment 1.0 — the quote/boilerplate/wrapper case a training
    -corpus dedup actually needs to catch.

    Same candidate generation as :func:`ngram_jaccard_pairs`
    (rare-shingle block join under ``max_df``), one intersection
    verify, sizes from the same shingle frame.  Output columns:
    ``(id_a, id_b, n_a, n_b, containment)`` with ``id_a < id_b``."""
    sh = doc_shingles(df, id_col, text_col, k=k).persist()
    try:
        return pin(
            ngram_containment_pairs_from_shingles(
                sh, id_col, threshold=threshold, max_df=max_df
            ),
            "containment_pairs:pairs",
        )[0]
    finally:
        sh.unpersist()


def ngram_containment_pairs_from_shingles(
    sh: DataFrame,
    id_col: str,
    *,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """:func:`ngram_containment_pairs` over a PRECOMPUTED distinct
    (id, sh_hash) frame — the entry point for callers maintaining the
    shingle index themselves (the streaming flagship twin drains its
    kept-doc shingle state grid here), mirroring
    :func:`ngram_dedup_report_from_shingles`.  Caller owns persistence
    of ``sh`` (it is scanned three times: blocking, sizes, verify)."""
    return (
        _measured_candidates(sh, id_col, max_df)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def ngram_dedup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.8,
    max_df: int | None = 64,
) -> DataFrame:
    """One-row near-duplication health card: how duplicated IS this
    corpus, by both resemblance measures at once — the go/no-go
    readout a corpus build checks before and after its dedup stage.

    Computes the shingle frame, the rare-shingle candidate set, the
    per-candidate intersection, and the per-doc set sizes ONCE, then
    derives exact Jaccard AND containment from the same ``(n_inter,
    n_a, n_b)`` triple — half the join work of calling
    :func:`ngram_jaccard_pairs` and :func:`ngram_containment_pairs`
    separately, which matters when the shingle frame is the 100-TB
    object.  Returns one row ``(n_docs, n_candidate_pairs,
    n_jaccard_pairs, n_containment_pairs, n_docs_flagged)`` where
    ``n_docs_flagged`` counts distinct documents in at least one
    over-threshold pair (either measure)."""
    sh = doc_shingles(df, id_col, text_col, k=k)
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return ngram_dedup_report_from_shingles(
        sh,
        id_col,
        n_docs,
        jaccard_threshold=jaccard_threshold,
        containment_threshold=containment_threshold,
        max_df=max_df,
    )


def ngram_dedup_report_from_shingles(
    sh: DataFrame,
    id_col: str,
    n_docs: DataFrame,
    *,
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.8,
    max_df: int | None = 64,
) -> DataFrame:
    """The health-card core over a PRECOMPUTED distinct (id, sh_hash)
    frame — the entry point for callers that maintain the shingle index
    themselves (the streaming twin drains its incrementally-maintained
    (doc, shingle) state grid here, so batch and stream fold through
    ONE code path).  ``n_docs`` is a one-row bigint frame (the doc
    count can't be derived from ``sh``: shingle-less docs vanish)."""
    sh = sh.persist()
    try:
        meas = _measured_candidates(sh, id_col, max_df).select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                .cast("double")
                >= F.lit(jaccard_threshold)
            ).alias("__j"),
            (
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
                >= F.lit(containment_threshold)
            ).alias("__c"),
        )
        # the pair-measure frame feeds BOTH the count aggregate and the
        # flagged-doc distinct — pin the tiny pair list so the candidate
        # joins replay at most once (same storage contract as the pair
        # functions)
        meas, _ = pin(meas, "dedup_report:measures")
        counts = meas.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
            F.coalesce(F.sum(F.col("__j").cast("int")), F.lit(0))
            .cast("bigint")
            .alias("n_jaccard_pairs"),
            F.coalesce(F.sum(F.col("__c").cast("int")), F.lit(0))
            .cast("bigint")
            .alias("n_containment_pairs"),
        )
        flagged = (
            meas.where(F.col("__j") | F.col("__c"))
            .select(F.explode(F.array("id_a", "id_b")).alias("__d"))
            .agg(F.countDistinct("__d").cast("bigint").alias("n_docs_flagged"))
        )
        return (
            n_docs.crossJoin(F.broadcast(counts))
            .crossJoin(F.broadcast(flagged))
            .select(
                "n_docs",
                "n_candidate_pairs",
                "n_jaccard_pairs",
                "n_containment_pairs",
                "n_docs_flagged",
            )
        )
    finally:
        sh.unpersist()
