"""Incremental (cross-corpus) near-duplicate detection.

The production dedup pattern for a continuously-growing corpus: a NEW
batch of documents arrives and must be deduplicated AGAINST an
already-curated reference corpus without ever re-pairing the reference
with itself.  This is the standard train-set hygiene step for LLM data
pipelines (dedup new crawl snapshots against what is already in the
training mix) — a cross-corpus variant of the MinHash-LSH pipeline in
:mod:`gofast_spark.dedup.minhash`.

Plan shape: both corpora get per-row shingle sets and signature
projections (shuffle-free, see ``doc_shingle_sets``); candidate
generation is an equi-join of the two band-key frames on
(band_idx, band_key) — cost is Σ |new bucket| × |ref bucket|, never
|new| × |ref|; verification semi-filters both set frames down to
candidate ids and computes exact Jaccard row-locally with
``array_intersect``.  The reference corpus is scanned once and never
self-joined.  At 100 TB the reference side's band frame is the big
one, but it participates only in an equi-join whose other side is the
(much smaller) new batch — AQE broadcast-picks the small side.

Reference parity: net-new surface (builder brief: training-data
pipeline operators); the reference package has no dedup operator at
all, let alone an incremental one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.dedup.minhash import (
    doc_shingle_sets,
    lsh_band_keys,
    minhash_signatures_from_sets,
)
from gofast_spark.session import pin


def near_dup_pairs_between(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    merge_fragments: bool = False,
) -> DataFrame:
    """(new_id, ref_id, jaccard) for every new doc whose exact shingle
    Jaccard against some reference doc reaches ``threshold``, candidates
    generated by cross-corpus LSH band equi-join.

    Both inputs follow the one-row-per-doc contract of
    :func:`doc_shingle_sets` (``merge_fragments=True`` unions
    fragment rows per id first).  The two id namespaces are independent:
    a new doc and a ref doc may share an id value.

    Each side's shingle-set frame feeds BOTH the signature projection
    and the verify legs; as in
    :func:`gofast_spark.dedup.minhash.near_dup_pairs` the set frames
    are persisted for the call and the result is pinned before they
    unpersist, so the compute-heavy shingle projection runs once per
    corpus instead of twice."""

    def _sets(src: DataFrame) -> DataFrame:
        sd = doc_shingle_sets(
            src, id_col, text_col, k=k, merge_fragments=merge_fragments
        )
        return sd

    sets_new = _sets(new_df).persist()
    sets_ref = _sets(ref_df).persist()
    try:
        return _pairs_between_plan(
            sets_new,
            sets_ref,
            id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
        )
    finally:
        sets_new.unpersist()
        sets_ref.unpersist()


def _pairs_between_plan(
    sets_new: DataFrame,
    sets_ref: DataFrame,
    id_col: str,
    *,
    threshold: float,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    sig_new = minhash_signatures_from_sets(
        sets_new, id_col, num_hashes=num_hashes
    )
    sig_ref = minhash_signatures_from_sets(
        sets_ref, id_col, num_hashes=num_hashes
    )
    bands_new = lsh_band_keys(
        sig_new, id_col, num_hashes=num_hashes, rows_per_band=rows_per_band
    ).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_key"
    )
    bands_ref = lsh_band_keys(
        sig_ref, id_col, num_hashes=num_hashes, rows_per_band=rows_per_band
    ).select(
        F.col(id_col).alias("ref_id"), "band_idx", "band_key"
    )
    # candidates are bounded by Σ |new bucket| x |ref bucket| — pinning
    # them materializes the persisted set frames in the same job, so the
    # verify stage below re-reads cached sets
    cand, _ = pin(
        bands_new.join(bands_ref, ["band_idx", "band_key"])
        .select("new_id", "ref_id")
        .dropDuplicates(),
        "pairs_between:candidates",
    )
    # verify: semi-filter each set frame to its candidate ids, then
    # exact Jaccard row-locally per pair
    xa = sets_new.join(
        cand.select(F.col("new_id").alias("__cid")).distinct(),
        F.col(id_col) == F.col("__cid"),
        "left_semi",
    ).select(F.col(id_col).alias("__a_id"), F.col("sh_set").alias("__a_set"))
    xb = sets_ref.join(
        cand.select(F.col("ref_id").alias("__cid")).distinct(),
        F.col(id_col) == F.col("__cid"),
        "left_semi",
    ).select(F.col(id_col).alias("__b_id"), F.col("sh_set").alias("__b_set"))
    inter = F.size(F.array_intersect(F.col("__a_set"), F.col("__b_set")))
    union = F.size(F.col("__a_set")) + F.size(F.col("__b_set")) - inter
    # pin while the set frames are still persisted (the caller
    # unpersists on return)
    return pin(
        cand.join(xa, F.col("new_id") == F.col("__a_id"))
        .join(xb, F.col("ref_id") == F.col("__b_id"))
        .select("new_id", "ref_id", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold),
        "pairs_between:pairs",
    )[0]


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    merge_fragments: bool = False,
) -> DataFrame:
    """The rows of ``new_df`` that are NOT near-duplicates of any
    reference doc — the batch that is safe to append to the corpus.
    One anti-join on the matched new-id set."""
    matched = near_dup_pairs_between(
        new_df,
        ref_df,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        merge_fragments=merge_fragments,
    ).select(F.col("new_id").alias("__mid")).distinct()
    return new_df.join(
        matched, F.col(id_col) == F.col("__mid"), "left_anti"
    )
