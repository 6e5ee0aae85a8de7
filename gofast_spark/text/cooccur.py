"""Pointwise-mutual-information phrase mining over adjacent token pairs.

PMI(x, y) = ln( p(x,y) / (p(x) p(y)) ) with p(x,y) from adjacent-bigram
counts and p(x) from unigram counts (Church & Hanks 1990; the same score
word2vec's phrase pass thresholds on, Mikolov et al. 2013).  High-PMI
adjacent pairs are collocations ("new york", "machine learning") — the
standard pre-tokenization phrase-detection signal for training corpora.

Scale shape: bigrams and unigrams are each ONE explode + groupBy (the
count tables are vocab-sized, not corpus-sized); the two totals ride a
1-row broadcast; the unigram probabilities join back into the pair
table twice, broadcast by AQE while the vocabulary fits.  Top-k is
TakeOrderedAndProject on the ROUNDED score so tie order is engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.text.analysis import normalize_text


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent pairs by PMI: ``(w1, w2, n_pair, pmi)``.

    ``min_count`` drops rare pairs (PMI is noise-dominated at tiny
    counts — the Church & Hanks caveat).  The unigram joins carry no
    hint: AQE broadcasts the unigram table at runtime while it fits the
    session's broadcast threshold; above it the joins shuffle."""
    # filter on the NORMALIZED string, not size(tk): split('') returns
    # [''] (size 1), so a size guard never fires and an empty/whitespace
    # -only document would contribute a '' unigram and inflate n_tokens
    # (diverging from the oracle's WHERE len(t) > 0)
    norm = normalize_text(text_col)
    toks = df.where(F.length(norm) > 0).select(
        F.split(norm, " ").alias("tk")
    )

    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # Materialize the bigram count table ONCE (guide §1.2/§2.4: remove
    # repeated passes): the totals aggregate and the scoring join would
    # each re-run the corpus explode + groupBy chain.
    pair_counts, _ = pin(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")),
        "pmi:pairs",
    )
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )

    # both totals from the count tables: sum(n_w) over the unigram
    # table == sum(size(tk)) and sum(n_pair) over the bigram
    # table == sum(size(tk) - 1) — exact integer identities, no third
    # corpus scan
    totals = uni.agg(F.sum("n_w").alias("n_tokens")).crossJoin(
        F.broadcast(pair_counts.agg(F.sum("n_pair").alias("m_pairs")))
    )

    scored = (
        pair_counts.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            # double from the FIRST multiply (left-assoc promotion) —
            # pure-int64 products overflow at corpus scale, and the
            # oracle replays the identical promotion order
            F.round(
                F.log(
                    (
                        F.col("n_pair").cast("double")
                        * F.col("n_tokens")
                        * F.col("n_tokens")
                    )
                    / (
                        F.col("m_pairs").cast("double")
                        * F.col("n1")
                        * F.col("n2")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("n_pair").desc(), "w1", "w2"
    ).limit(top_k)


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_v: int = 500,
) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: OLS slope of
    ``ln(freq) ~ ln(rank)`` over the ``top_v`` most frequent tokens
    (Zipf 1949; a healthy natural-language corpus sits near -1, and
    the deviation is a cheap corpus-quality fingerprint — template
    spam flattens the head, boilerplate dedup failures steepen it).

    Returns 1 row ``(slope, intercept, n_terms, n_tokens)``.  One
    explode + vocab groupBy (the bigram_pmi scan shape), a
    deterministic (count DESC, token) rank over the top-``top_v``
    slice, and a closed-form 2x2 OLS from one aggregate of that tiny
    frame."""
    norm = normalize_text(text_col)
    toks = df.where(F.length(norm) > 0).select(
        F.split(norm, " ").alias("tk")
    )
    counts = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    total = counts.agg(F.sum("n_w").alias("__n_tokens"))
    from pyspark.sql import Window

    head = counts.orderBy(F.col("n_w").desc(), "w").limit(top_v)
    ranked = head.withColumn(
        "__r",
        F.row_number().over(Window.orderBy(F.col("n_w").desc(), "w")),
    )
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("n_w").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return m.crossJoin(F.broadcast(total)).select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
        F.col("n").cast("bigint").alias("n_terms"),
        F.col("__n_tokens").cast("bigint").alias("n_tokens"),
    )


def llr_collocations(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent pairs by Dunning's log-likelihood ratio
    (Dunning, Computational Linguistics 1993) — the count-robust
    collocation score that, unlike PMI, does not explode on rare pairs:

        G2 = 2 * sum_ij k_ij * ln( k_ij * N / (R_i * C_j) )

    over the 2x2 contingency of (first word = w1?) x (second word =
    w2?), with ``0 * ln 0 = 0``.  Every margin derives from the ONE
    bigram count table (first-/second-position counts are vocab-sized
    groupBys of it and N is its 1-row sum) — a single corpus explode
    feeds everything.  Products promote to double from the first
    multiply so int64 never overflows at corpus scale; the score is
    rounded to 6 for engine-stable top-k ties."""
    norm = normalize_text(text_col)
    toks = df.where(F.length(norm) > 0).select(
        F.split(norm, " ").alias("tk")
    )
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # one corpus explode EVER: the bigram count table feeds the margins,
    # the total and the scoring join — materialize it once (guide §2.4;
    # the main plan otherwise re-runs the explode chain per consumer)
    pc, _ = pin(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")),
        "llr:pairs",
    )
    # vocab-sized margins: AQE broadcasts them at runtime while they fit
    # the session's broadcast threshold, as in bigram_pmi
    first = pc.groupBy("w1").agg(F.sum("n_pair").alias("r1"))
    second = pc.groupBy("w2").agg(F.sum("n_pair").alias("c1"))
    total = pc.agg(F.sum("n_pair").alias("nn"))

    j = (
        pc.where(F.col("n_pair") >= min_count)
        .join(first, "w1")
        .join(second, "w2")
        .crossJoin(F.broadcast(total))
    )

    def term(k, r, c):
        # k * ln(k*N / (r*c)), double from the first multiply
        return F.when(
            k > 0,
            k.cast("double")
            * F.log(k.cast("double") * F.col("nn") / (r.cast("double") * c)),
        ).otherwise(F.lit(0.0))

    k11 = F.col("n_pair")
    k12 = F.col("r1") - k11
    k21 = F.col("c1") - k11
    k22 = F.col("nn") - F.col("r1") - F.col("c1") + k11
    r2 = F.col("nn") - F.col("r1")
    c2 = F.col("nn") - F.col("c1")
    g2 = F.lit(2.0) * (
        term(k11, F.col("r1"), F.col("c1"))
        + term(k12, F.col("r1"), c2)
        + term(k21, r2, F.col("c1"))
        + term(k22, r2, c2)
    )
    scored = j.select(
        "w1", "w2", "n_pair", F.round(g2, 6).alias("llr")
    )
    return scored.orderBy(
        F.col("llr").desc(), F.col("n_pair").desc(), "w1", "w2"
    ).limit(top_k)


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    holdout_mod: int = 5,
) -> DataFrame:
    """Bigram novelty of a held-out document split against the rest of
    the corpus — the train/test contamination-and-memorization screen
    a training-data pipeline runs before evaluation splits are trusted
    (complementing the catalog's contamination_check and dedup
    families): the fraction of held-out bigram TYPES (and token
    OCCURRENCES) never seen in the training split.

    One tokenize pass, two distinct bigram tables, one left-anti join
    — the train side is the big one and is only ever distinct-reduced,
    never collected.  All outputs are integer counts and their single
    -division ratios.  Returns ONE row ``(n_train_types, n_test_types,
    novel_types, type_novelty, test_occurrences, novel_occurrences,
    occurrence_novelty)``."""
    norm = normalize_text(text_col)
    base = df.where(
        F.col(id_col).isNotNull() & (F.length(norm) > 0)
    ).select(F.col(id_col).alias("id"), F.split(norm, " ").alias("tk"))

    def bigrams(d: DataFrame) -> DataFrame:
        return d.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                    F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
                )
            ).alias("bg")
        ).select(
            F.concat(
                F.col("bg.w1"), F.lit("|"), F.col("bg.w2")
            ).alias("bg")
        )

    # one tokenize pass per split (guide §1.2): the five readouts below
    # previously each re-executed their corpus lineage (train distinct
    # 3x, test explode 3x).  The test side folds to a (type, n_occ)
    # count table first — type/occurrence novelty then read off ONE
    # anti-join of vocabulary-sized frames: count(novel types) and
    # sum(their occurrence counts) are the same integers as the old
    # per-occurrence anti-join by definition of the grouping.  All five
    # scalar readouts are observed by the three pins.
    train_set, m_train = pin(
        bigrams(base.where(F.col("id") % holdout_mod != 0)).distinct(),
        "novelty:train",
        n=F.count(F.lit(1)),
    )
    test_cnt, m_test = pin(
        bigrams(base.where(F.col("id") % holdout_mod == 0))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("__n")),
        "novelty:test",
        n=F.count(F.lit(1)),
        occ=F.coalesce(F.sum("__n"), F.lit(0)),
    )
    _, m_novel = pin(
        test_cnt.join(train_set, "bg", "left_anti"),
        "novelty:novel",
        n=F.count(F.lit(1)),
        occ=F.coalesce(F.sum("__n"), F.lit(0)),
    )
    spark = df.sparkSession
    n_train = m_train["n"]
    n_test = m_test["n"]
    n_novel = m_novel["n"]
    occ_test = m_test["occ"]
    occ_novel = m_novel["occ"]
    return spark.createDataFrame(
        [(
            n_train, n_test, n_novel,
            (n_novel / n_test) if n_test else 0.0,
            occ_test, occ_novel,
            (occ_novel / occ_test) if occ_test else 0.0,
        )],
        "n_train_types bigint, n_test_types bigint, novel_types bigint,"
        " type_novelty double, test_occurrences bigint,"
        " novel_occurrences bigint, occurrence_novelty double",
    )
