"""Substring-level duplicate-span detection (exact n-gram runs).

Document-level dedup (exact / MinHash / SimHash, this package's other
modules) misses the common crawl pathology of long VERBATIM passages
repeated across otherwise-distinct pages (licenses, navigation chrome,
syndicated paragraphs).  Lee et al., "Deduplicating Training Data Makes
Language Models Better" (ACL 2022) remove any substring of >= 50 tokens
that appears more than once in the corpus, using a suffix array.  A
suffix array is a sequential construction; the distributed equivalent
here is the standard hashed-k-gram formulation:

1. explode every token position into its k-gram hash (row-local
   ``transform(sequence(...))`` shingling, then ONE explode) —
   (doc_id, pos, h);
2. ONE groupBy h over the corpus keeps hashes occurring >= 2 times in
   >= min_docs distinct documents (the "duplicated gram" set — its size
   is bounded by the duplication volume, not the corpus);
3. semi-join positions against the duplicated set and merge runs of
   overlapping positions per document into maximal spans with a
   per-doc window (islands-and-gaps), giving
   (doc_id, span_start, span_end_excl, n_tokens).

Any span of >= min_len duplicated tokens surfaces as a merged run of
k-grams, so ``k = min_len`` finds exactly the passages the suffix-array
method would (up to hash collisions, which the 60-bit md5-derived hash
makes negligible; candidates can be re-verified exactly by re-joining
the gram text).

Scale shape: steps 1-2 shuffle hashes once — the same cost class as
the MinHash signature build; step 3's window partitions by doc_id, so
the sort is per-document local.  No UDFs; all codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.text.analysis import normalize_text
from gofast_spark.text.hashing import md5_hash64


def gram_positions(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(id, pos, h): the 0-based token position and portable 60-bit hash
    of every k-token gram.  Grams are built row-locally; only the
    explode leaves the row."""
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("tk"),
    ).withColumn("n_tok", F.size("tk"))
    # r15: concat of direct element references — cheaper than the old
    # slice + array_join per offset (identical strings; split() tokens
    # are never NULL)
    _els = ", '|', ".join(f"tk[i + {j}]" for j in range(k))
    grams = F.expr(
        f"transform(sequence(0, n_tok - {k}), i -> concat({_els}))"
    )
    pos_gram = toks.where(F.col("n_tok") >= k).select(
        id_col, F.posexplode(grams).alias("pos", "gram")
    )
    return pos_gram.select(
        id_col, "pos", md5_hash64("gram").alias("h")
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal duplicated passages per document.

    Returns (id, span_start, span_end_excl, n_tokens) where
    [span_start, span_end_excl) is a token range (0-based) every token
    of which lies inside a k-gram that occurs in >= min_docs distinct
    documents.  Overlapping/adjacent duplicated grams merge: positions
    p and p' belong to one span when p' - p <= k (their grams share
    tokens or touch).

    The gram-position frame feeds BOTH the cross-doc frequency
    aggregate and the hit semi-join, but both consumers exchange on the
    same key ``h``, so Catalyst's ReuseExchange runs the explode ONCE
    already — measured: persisting it and pinning the spans (the
    discipline that wins when consumers need *different* partitionings,
    e.g. semantic.py) is ~15% SLOWER here, so the plan stays lazy.
    """
    pos = gram_positions(df, id_col=id_col, text_col=text_col, k=k)
    dup = (
        pos.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = pos.join(dup, "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    # islands-and-gaps: a new span starts when the previous duplicated
    # position is more than k back (gram ranges no longer overlap/touch)
    flagged = hits.withColumn(
        "new_span",
        F.when(
            F.coalesce(
                F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)
            )
            > k,
            1,
        ).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end_excl"),
        )
        .withColumn(
            "n_tokens", F.col("span_end_excl") - F.col("span_start")
        )
        .select(id_col, "span_start", "span_end_excl", "n_tokens")
    )


def strip_duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite each document with its duplicated passages removed
    (the Lee-et-al. remediation, applied to the normalized token
    stream).  Token ranges to drop come from :func:`duplicated_spans`;
    the rebuild filters the token array by position row-locally after a
    per-doc collect of span bounds (spans per doc are few — bounded by
    n_tok / k)."""
    spans = duplicated_spans(
        df, id_col=id_col, text_col=text_col, k=k, min_docs=min_docs
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end_excl")).alias(
            "_spans"
        )
    )
    toks = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("tk")
    )
    joined = toks.join(per_doc, id_col, "left")
    kept = F.when(F.col("_spans").isNull(), F.col("tk")).otherwise(
        F.expr(
            "filter(tk, (t, i) -> NOT exists(_spans, "
            "s -> i >= s.span_start AND i < s.span_end_excl))"
        )
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).alias("n_tokens_kept"),
    )
