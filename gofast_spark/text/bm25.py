"""BM25 / TF-IDF keyword retrieval over a document corpus.

Query-driven corpus selection is a standard step in training-data
curation (e.g. importance-sampling a crawl toward a target domain by
keyword relevance) and the classic IR primitive the reference's text
utilities stop short of.  The scoring function is Okapi BM25 with the
Lucene non-negative idf variant (Robertson & Zaragoza, "The
Probabilistic Relevance Framework: BM25 and Beyond", 2009):

    idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d,q) = sum_t idf(t) * tf_td * (k1+1)
                 / (tf_td + k1 * (1 - b + b * len_d / avgdl))

Spark-first design, in three relational stages:

1. ``build_postings`` — explode normalized tokens and count per
   (doc, term): ONE shuffle, the inverted-index build.  At 100 TB this
   is the unavoidable index cost; everything downstream reads the
   postings, not the corpus.
2. corpus stats (N, avgdl) — a single 1-row aggregate broadcast back
   via ``crossJoin(F.broadcast(...))`` (no ``.collect()``).
3. ``bm25_topk`` — the query-term ``isin`` filter is pushed into the
   postings scan (a handful of literals -> codegen'd predicate, and a
   parquet-persisted postings table would prune on it), df_t comes from
   a term-grained aggregate of the *filtered* postings (rows = query
   terms, broadcast join back), and the final top-k is
   ``orderBy(...).limit(k)`` which Spark executes as TakeOrderedAndProject
   (per-partition heaps, no global sort).

No UDFs anywhere; every expression is whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.text.analysis import normalize_text


def build_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings: one row per (doc, term) with the term
    frequency ``tf`` and the document token length ``dl``.

    The per-doc length is computed BEFORE the explode and carried through
    the groupBy (first()), so no second pass over the corpus is needed.
    """
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("_tk"),
    ).withColumn("dl", F.size("_tk"))
    return (
        toks.select(id_col, "dl", F.explode("_tk").alias("term"))
        .where(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def corpus_stats(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """1-row frame (n_docs, avgdl) from the postings alone."""
    per_doc = postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query terms.

    Returns (id, score) ordered by score desc with id as the
    deterministic tie-break.  Pass a pre-built ``postings`` frame to
    amortize the index across many queries (the intended pattern at
    scale — index once, query many).
    """
    terms = sorted({t for t in query_terms if t})
    if not terms:
        raise ValueError("query_terms must contain at least one term")

    if postings is None:
        postings = build_postings(df, id_col, text_col)
        # corpus stats from the pre-explode doc frame: one narrow scan
        # instead of re-running the explode + (doc, term) groupBy that
        # corpus_stats(postings) would trigger as a second plan branch.
        # Token-less docs are excluded to match the postings-derived
        # stats exactly (they contribute no postings row).
        norm = normalize_text(text_col)
        toks = df.select(F.size(F.split(norm, " ")).alias("dl")).where(
            norm != ""
        )
        stats = toks.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    else:
        stats = corpus_stats(postings, id_col)

    # pin the query-term postings: the dfreq broadcast and the scoring
    # join below otherwise EACH re-run the full corpus explode +
    # (doc, term) groupBy behind `postings` (guide §1.2); the filtered
    # frame is bounded by docs-containing-query-terms
    hits, _ = pin(postings.where(F.col("term").isin(terms)), "bm25:hits")
    # df_t over the filtered postings: rows <= len(terms), broadcast back
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log1p(
                (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (1.0 + k1)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_topk_terms(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms_per_doc: int = 5,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Per-document top-N characteristic terms by smoothed tf-idf
    (keyword extraction: ``tf * ln(N / (1 + df_t)) `` with the +1 keeping
    ubiquitous terms finite).  Rank inside each doc with a window — the
    partition key is the doc, so the sort is per-doc local, never a
    global single-reducer sort."""
    from pyspark.sql import Window

    if postings is None:
        # the index feeds dfreq (join build side), the stats broadcast
        # and the scoring join — pin it instead of running the tokenize
        # + explode + groupBy chain for each consumer (guide §1.2); a
        # caller-supplied postings frame is left as-is (the
        # index-once-query-many contract)
        postings, _ = pin(
            build_postings(df, id_col, text_col), "tfidf_terms:postings"
        )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df_t"))
    stats = corpus_stats(postings, id_col)
    scored = (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / (1.0 + F.col("df_t"))),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= terms_per_doc)
        .select(id_col, "term", "tfidf", "rank")
    )
