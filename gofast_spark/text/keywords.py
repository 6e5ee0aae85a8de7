"""TextRank keyword extraction over the corpus co-occurrence graph.

Public basis: Mihalcea & Tarau, "TextRank: Bringing Order into
Texts" (EMNLP 2004) — build a token graph from within-window
co-occurrence (window 2 = adjacent tokens here), run PageRank, rank
tokens by centrality.  This is the corpus-level variant: one graph
over ALL documents, so the hot path is exactly the bigram machinery
of :mod:`gofast_spark.text.cooccur` (one explode + one distinct per
corpus scan) feeding the shared :func:`gofast_spark.ml.graph.pagerank`
power iteration — vocabulary-sized state, never corpus-sized, and the
edge table is checkpointed once regardless of iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.ml.graph import pagerank
from gofast_spark.session import pin
from gofast_spark.text.analysis import EN_STOPWORDS, normalize_text

__all__ = ["textrank_keywords"]


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    *,
    iterations: int = 5,
    damping: float = 0.85,
    top_k: int = 20,
    min_token_len: int = 3,
) -> DataFrame:
    """Top-``top_k`` tokens by TextRank centrality: ``(token, rank)``.

    Tokens shorter than ``min_token_len`` characters are dropped BEFORE
    pairing (the Mihalcea-Tarau syntactic filter, approximated
    lexically — stopwords are overwhelmingly short), adjacency
    survives the drop only between retained neighbors.  Edges are the
    DISTINCT undirected adjacent-token pairs; ranks come from the
    shared synchronous PageRank.  Ordering ties break on the token so
    the cut is deterministic."""
    norm = normalize_text(text_col)
    toks = df.where(F.length(norm) > 0).select(
        F.filter(
            F.split(norm, " "),
            lambda t: F.length(t) >= F.lit(int(min_token_len)),
        ).alias("tk")
    ).where(F.size("tk") >= 2)
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("a"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("b"),
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    # distinct the DIRECTED pairs first (one corpus scan + one shuffle
    # of the vocab-pair-sized frame), then symmetrize and re-distinct
    # the small frame — the old both-legs union scanned and tokenized
    # the corpus twice for an identical edge set (guide §2.3: shuffle
    # and scan the lightweight proxy, not the corpus)
    d1 = (
        pairs.where(F.col("a") != F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
    )
    edges = d1.unionByName(
        d1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    r = pagerank(edges, iterations=iterations, damping=damping)
    return (
        r.select(F.col("node").alias("token"), "rank")
        .orderBy(F.round("rank", 8).desc(), "token")
        .limit(top_k)
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    *,
    stopwords: tuple[str, ...] = EN_STOPWORDS,
    top_k: int = 20,
    min_phrase_freq: int = 2,
) -> DataFrame:
    """Top-``top_k`` candidate phrases by RAKE score (Rose, Engel,
    Cramer & Cowley, "Automatic keyword extraction from individual
    documents", 2010): split normalized text into phrases at stopword
    boundaries, score each word ``deg(w)/freq(w)`` (degree counts the
    lengths of the phrases it appears in), and score a phrase by the
    sum of its member word scores.

    Phrase segmentation is ROW-LOCAL string algebra: spaces are doubled
    so every token owns its delimiters, stopword occurrences become
    '|' separators in one regexp pass (no overlapping-match loss), and
    the phrase list is a split + trim.  Word stats are one explode +
    groupBy (vocab-sized); word scores are exact integer ratios
    quantized to micro-units so each phrase's score SUM is an exact
    bigint — engine-reproducible top-k with phrase tie-break."""
    norm = normalize_text(text_col)
    alt = "|".join(stopwords)
    padded = F.concat(
        F.lit(" "), F.regexp_replace(norm, " ", "  "), F.lit(" ")
    )
    marked = F.regexp_replace(padded, f" ({alt}) ", " | ")
    phrases = df.where(F.length(norm) > 0).select(
        F.filter(
            F.transform(
                F.split(marked, "\\|"),
                lambda s: F.trim(F.regexp_replace(s, " +", " ")),
            ),
            lambda s: F.length(s) > 0,
        ).alias("ps")
    ).select(F.explode("ps").alias("phrase"))
    # The phrase frame feeds THREE consumers (word stats, the phrase
    # -word join, the phrase-frequency count) — and its lineage is the
    # expensive stopword-alternation regexp pass over the corpus.  Pin
    # it so the regex battery runs one time instead of three (guide
    # §1.2/§2.4).
    phrases, _ = pin(phrases, "rake:phrases")

    words = phrases.select(
        "phrase",
        F.split(F.col("phrase"), " ").alias("wk"),
    ).select(
        F.explode("wk").alias("w"), F.size("wk").alias("plen")
    )
    stats = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    ).select(
        "w",
        # deg/freq as an exact-int ratio, quantized to micro-units
        F.floor(
            F.col("deg").cast("double") / F.col("freq").cast("double")
            * F.lit(1e6) + F.lit(0.5)
        ).cast("bigint").alias("score_u"),
    )

    pw = phrases.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    # the stats are vocab-sized: AQE broadcasts them at runtime while
    # they fit the session's broadcast threshold
    ps = pw.join(stats, "w").groupBy("phrase").agg(
        F.sum("score_u").alias("__su")
    )
    # a phrase occurring f times accumulates f copies of its word sum:
    # divide by its own frequency to recover the per-occurrence score
    freq = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("phrase_freq")
    )
    out = ps.join(freq, "phrase").select(
        "phrase",
        F.col("phrase_freq").cast("bigint").alias("phrase_freq"),
        F.round(
            (F.col("__su") / F.col("phrase_freq")).cast("double")
            / F.lit(1e6), 6
        ).alias("rake_score"),
    ).where(F.col("phrase_freq") >= min_phrase_freq)
    return out.orderBy(
        F.col("rake_score").desc(), F.col("phrase")
    ).limit(top_k)
