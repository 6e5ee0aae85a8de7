"""Benchmark contamination detection (n-gram decontamination).

Standard LLM training-data hygiene (public method: GPT-3 appendix C
"dirty" 13-gram overlap, Brown et al. 2020; the Llama / FLAN
decontamination recipes are variants): a training document is
*contaminated* by an evaluation benchmark when it shares at least one
(or, fraction-thresholded, enough) normalized token k-grams with any eval
example.  Contaminated docs are dropped or flagged before training so
benchmark scores measure generalization, not memorization.

Spark-first plan — reuses the shuffle-free shingle machinery from
:mod:`gofast_spark.dedup.minhash`:

1. corpus k-gram hashes: per-doc DISTINCT k-grams built row-locally
   (``array_distinct`` inside the doc's own row — no corpus shuffle),
   exploded to (doc_id, hash);
2. eval k-gram hashes: same projection over the benchmark table, then a
   global ``distinct`` — benchmarks are tiny relative to the corpus, so
   this frame is KBs-to-MBs and is always **broadcast**;
3. one broadcast-hash semi/inner join on the gram hash + one per-doc
   aggregation.  The 100-TB cost is a single corpus scan; nothing about
   the corpus ever shuffles except the per-doc count aggregation (and the
   hit-side aggregation is pre-filtered to matched grams only, a tiny
   fraction of the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_check(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_text_col: str | None = None,
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Per-corpus-doc contamination stats vs an eval benchmark table.

    Output: (``id_col``, n_grams, n_hit, contamination_frac,
    is_contaminated) — one row per corpus doc.  ``n_grams`` counts the
    doc's distinct k-grams, ``n_hit`` how many of them appear anywhere in
    the eval set, ``is_contaminated = 1`` when the hit fraction EXCEEDS
    ``threshold`` (default 0.0: any shared k-gram flags the doc, the
    GPT-3 rule).  Docs shorter than ``k`` tokens contribute their whole
    token string as a single gram (the shingle convention), so they are
    still checkable.

    ``eval_text_col`` defaults to ``text_col``.  The eval frame needs no
    id column — only its distinct gram hashes are used.
    """
    # deferred: dedup.minhash imports text.hashing, so a module-level
    # import here would make text <-> dedup circular
    from gofast_spark.dedup.minhash import doc_shingles

    ecol = eval_text_col or text_col
    ev = eval_df.select(F.col(ecol).alias("__etext")).withColumn(
        "__eid", F.monotonically_increasing_id()
    )
    eval_grams = F.broadcast(
        doc_shingles(ev, "__eid", "__etext", k=k)
        .select(F.col("sh_hash").alias("__eh"))
        .distinct()
    )
    grams = doc_shingles(corpus, id_col, text_col, k=k)
    totals = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        grams.join(eval_grams, grams["sh_hash"] == F.col("__eh"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    out = totals.join(hits, id_col, "left").fillna(0, subset=["n_hit"])
    frac = F.col("n_hit") / F.col("n_grams")
    return out.select(
        id_col,
        F.col("n_grams").cast("bigint"),
        F.col("n_hit").cast("bigint"),
        F.round(frac, 6).alias("contamination_frac"),
        (frac > F.lit(threshold)).cast("int").alias("is_contaminated"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_text_col: str | None = None,
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """The corpus minus contaminated docs — a left-anti join of the
    corpus against the flagged ids, preserving the input schema."""
    flagged = contamination_check(
        corpus,
        eval_df,
        id_col,
        text_col,
        eval_text_col=eval_text_col,
        k=k,
        threshold=threshold,
    ).where(F.col("is_contaminated") == 1)
    return corpus.join(
        flagged.select(id_col), id_col, "left_anti"
    )


def source_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram Jaccard overlap between corpus partitions
    (sources, dumps, snapshots): the cross-source contamination matrix
    a corpus audit reports before mixing datasets.

    Scale shape: each group's DISTINCT n-gram set is one
    explode+distinct (group-vocabulary sized); intersections come from
    one self-equi-join on the gram (work proportional to shared-gram
    count, never |A| x |B|); set sizes join back broadcast.  Emits each
    unordered pair once (a < b)."""
    from gofast_spark.text.analysis import normalize_text

    t = df.select(
        F.col(group_col).alias("g"),
        F.split(normalize_text(text_col), " ").alias("tk"),
    )
    # sequence(0, sz-n) DESCENDS for sz < n — guard short docs explicitly
    # (r15: concat of direct element references beats the old
    # concat_ws-over-slice per gram; identical strings — split() tokens
    # are never NULL)
    _els = ", '|', ".join(f"tk[i + {j}]" for j in range(n))
    gram = F.when(
        F.size("tk") >= n,
        F.expr(f"transform(sequence(0, size(tk) - {n}), i -> concat({_els}))"),
    ).otherwise(F.array().cast("array<string>"))
    grams = t.select("g", F.explode(gram).alias("gram")).distinct()
    sizes = grams.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        grams.alias("x")
        .join(grams.alias("y"), "gram")
        .where(F.col("x.g") < F.col("y.g"))
        .groupBy(
            F.col("x.g").alias("a"), F.col("y.g").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("g").alias("a"), F.col("sz").alias("sz_a"))),
            "a",
        )
        .join(
            F.broadcast(sizes.select(F.col("g").alias("b"), F.col("sz").alias("sz_b"))),
            "b",
        )
        .select(
            "a",
            "b",
            "n_inter",
            "sz_a",
            "sz_b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
