"""Native text analysis: normalization, tokenization, stats, quality,
language-ID heuristic.

Reference: ``clean_text``/``normalize_text`` (gofast/utils/text.py:53, 188),
``tokenize`` (:740), ``text_analysis`` (:838).  All hot-path logic is
built-in column expressions (whole-stage codegen); nothing crosses into
Python per row, so these run at scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# small multilingual stopword lists for the heuristic language-ID
# (n-gram/stopword scoring; reference gofast has no lang-id — net-new
# LLM-pipeline surface per the builder brief)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "los", "las", "y", "es", "un"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def _stopword_hits(norm: Column, words: tuple[str, ...]) -> Column:
    """Count stopword occurrences in already-normalized text with a single
    codegen'd ``regexp_count`` instead of an interpreted ``F.filter`` lambda
    over the token array (HOF lambdas run interpreted, ~100x slower per
    element — see dedup/minhash.py shingle notes).  Word boundaries are
    exact here because normalized text is strictly ``[a-z0-9 ]``."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(norm, F.lit(pat))


def normalize_text(col: Column | str) -> Column:
    """lower-case, strip non-alphanumerics to spaces, collapse whitespace.

    Reference: ``clean_text``/``normalize_text`` (gofast/utils/text.py:53,
    188).  The oracle recipe is ``lower -> [^a-z0-9 ]+ -> ' ' ->
    collapse -> trim``; the engine fuses the two replace passes into ONE
    ``[^a-z0-9]+ -> ' '`` pass (r15, guide §1.2 per-task work — every
    maximal non-alphanumeric run becomes exactly one space either way,
    so the strings are identical and the DuckDB oracle still replicates
    the two-step recipe verbatim; measured 2x on the corpus scan).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokenize_text(col: Column | str) -> Column:
    """Whitespace tokenization of normalized text -> array<string>.

    Reference: ``tokenize`` (gofast/utils/text.py:740).
    """
    return F.split(normalize_text(col), " ")


def token_count_bpeish(col: Column | str) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and each remaining
    non-space symbol count as one token (a cheap proxy for subword
    tokenizers when budgeting LLM training data)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))


def text_stats(df: DataFrame, text_col: str, *, out_prefix: str = "") -> DataFrame:
    """Per-row text statistics: chars, tokens, unique tokens, avg token
    length, stopword ratio.

    Reference: ``text_analysis`` (gofast/utils/text.py:838) returns this
    bundle eagerly per string; here it is five column expressions appended
    in one projection (no shuffle, no UDF).
    """
    norm = normalize_text(text_col)
    toks = F.split(norm, " ")
    p = out_prefix
    n_tok = F.size(toks)
    n_stop = _stopword_hits(norm, EN_STOPWORDS)
    # tokens are joined by single spaces after normalization, so the summed
    # token length is pure arithmetic — no interpreted F.aggregate lambda
    total_len = F.length(norm) - (n_tok - F.lit(1))
    return df.select(
        "*",
        F.length(F.col(text_col)).alias(f"{p}n_chars"),
        n_tok.alias(f"{p}n_tokens"),
        F.size(F.array_distinct(toks)).alias(f"{p}n_unique_tokens"),
        (total_len / n_tok).alias(f"{p}avg_token_len"),
        (n_stop / n_tok).alias(f"{p}stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str, *, out_col: str = "quality") -> DataFrame:
    """Heuristic document quality in [0, 1] for training-data filtering:
    length saturation + lexical diversity + non-stopword density.

    score = 0.4 * min(n_tokens/50, 1)
          + 0.4 * unique_ratio
          + 0.2 * (1 - stopword_ratio)

    Net-new LLM-pipeline surface (builder brief); weights documented, not
    learned.  Computed from one projection over the token array.
    """
    norm = normalize_text(text_col)
    toks = F.split(norm, " ")
    n_tok = F.size(toks)
    uniq = F.size(F.array_distinct(toks)) / n_tok
    stop = _stopword_hits(norm, EN_STOPWORDS) / n_tok
    score = (
        0.4 * F.least(n_tok / F.lit(50.0), F.lit(1.0)) + 0.4 * uniq + 0.2 * (1 - stop)
    )
    return df.withColumn(out_col, F.when(n_tok > 0, score).otherwise(F.lit(0.0)))


def language_id(df: DataFrame, text_col: str, *, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts, argmax with
    a deterministic tiebreak (language code ascending).

    The reference has no lang-id; this is the n-gram-heuristic operator the
    builder brief asks for.  One projection; the per-language score is one
    codegen'd ``regexp_count`` over the normalized string (JVM-side).
    """
    norm = normalize_text(text_col)
    scores = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        scores.append(
            F.struct(
                # negated hits: ascending struct sort = hits desc, code asc
                (-_stopword_hits(norm, words)).alias("neg"),
                F.lit(lang).alias("code"),
            )
        )
    best = F.sort_array(F.array(*scores))[0]["code"]
    return df.withColumn(out_col, best)


def corpus_report(
    df: DataFrame,
    text_col: str,
    group_cols: "Sequence[str]" = ("source", "lang"),
) -> DataFrame:
    """The per-(source, language) "dataset card" frame every corpus
    build publishes: document counts, token totals, mean document
    length, mean lexical diversity (unique-token ratio), mean stopword
    ratio.  One row-local :func:`text_stats` projection feeding ONE
    groupBy — corpus scanned once, result is group-cardinality sized.

    Ratio means are quantized to integer micro-units per row before
    summation (the engine's exact-money policy), so the aggregate is
    bit-identical under any partition regrouping — a double sum across
    1000 executors would not be."""
    return corpus_report_from_moments(
        corpus_report_moments(df, text_col, group_cols)
    )


def corpus_report_moments(
    df: DataFrame,
    text_col: str,
    group_cols: "Sequence[str]" = ("source", "lang"),
) -> DataFrame:
    """The integer moment frame behind :func:`corpus_report` — one row
    per group with ``(n_docs, tok_sum, uniq_u6_sum, stop_u6_sum)``.
    Every column is a COUNT or an integer SUM, so this frame is
    exactly the state a streaming aggregation maintains (commutative,
    late-data-safe, mergeable across micro-batches and executors);
    the batch report and the streaming twin both fold it through
    :func:`corpus_report_from_moments`."""
    s = text_stats(df, text_col)

    def u6(c):
        # trunc(x*1e6 + 0.5): engine-portable HALF_UP on the binary
        # double (F.round would round the shortest DECIMAL repr — off by
        # one micro-unit on values like ...5.499999999996; same recipe
        # as plans.catalog._units6)
        return (c * F.lit(1e6) + F.lit(0.5)).cast("bigint")

    return s.groupBy(*list(group_cols)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_sum"),
        F.sum(u6(F.col("n_unique_tokens") / F.col("n_tokens"))).alias(
            "uniq_u6_sum"
        ),
        F.sum(u6(F.col("stopword_ratio"))).alias("stop_u6_sum"),
    )


def corpus_report_from_moments(moments: DataFrame) -> DataFrame:
    """Fold the :func:`corpus_report_moments` frame to the published
    dataset-card columns.  No final round(): the means are exact
    -integer divisions, so both engines produce the bit-identical
    double — a round() at a .5 tie (e.g. sum_u6/n landing on
    ...55e-7) splits between Spark's decimal-repr rounding and
    DuckDB's binary rounding."""
    keep = [
        c
        for c in moments.columns
        if c not in ("n_docs", "tok_sum", "uniq_u6_sum", "stop_u6_sum")
    ]
    n = F.col("n_docs")
    return moments.select(
        *keep,
        "n_docs",
        "tok_sum",
        (F.col("tok_sum") / n).alias("mean_tokens"),
        (F.col("uniq_u6_sum") / (n * F.lit(1_000_000.0))).alias(
            "mean_unique_ratio"
        ),
        (F.col("stop_u6_sum") / (n * F.lit(1_000_000.0))).alias(
            "mean_stopword_ratio"
        ),
    )


def readability(df: DataFrame, text_col: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document (Flesch,
    J. Applied Psychology 1948; Kincaid et al. 1975), with the standard
    large-corpus approximations: sentences = count of ``[.!?]`` in the
    raw text (min 1), words from the repo's normalize recipe, syllables
    = vowel-group count (``[aeiouy]+`` runs, min 1/word applied in
    aggregate via greatest) — every term is a row-local projection, so
    the score costs one codegen'd scan at any corpus size.

        ease  = 206.835 - 1.015 * words/sentences - 84.6 * syllables/words
        grade = 0.39 * words/sentences + 11.8 * syllables/words - 15.59
    """
    t = F.col(text_col)
    norm = normalize_text(t)
    words = F.size(F.split(norm, " "))
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(norm, F.lit("[aeiouy]+")), words
    )
    wps = words.cast("double") / sentences.cast("double")
    spw = syllables.cast("double") / words.cast("double")
    ease = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    grade = (
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )
    return df.where(t.isNotNull() & (F.length(norm) > 0)).select(
        "*",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        ease.alias("flesch_ease"),
        grade.alias("fk_grade"),
    )


def lexical_richness(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus lexical-richness report: type-token ratio, hapax ratio,
    and Yule's characteristic K (Yule, *The Statistical Study of
    Literary Vocabulary*, 1944) — the length-robust repetitiveness
    measure a training-data pipeline reads next to the dedup and
    repetition filters (a memorized/boilerplate-heavy corpus shows an
    inflated K):

        K = 10^4 * (sum_w c_w^2 - N) / N^2

    (equivalent to the textbook ``sum m^2 V_m`` form since
    ``sum_m m^2 V_m = sum_w c_w^2``).  One tokenize/explode pass, one
    word-level groupBy, ONE final aggregate of integer moments —
    c_w^2 is decimal-widened, so every sum commutes and the result is
    exact; the only doubles are the three final ratios.  Returns one
    row ``(n_tokens, n_types, hapax_types, ttr, hapax_ratio,
    yule_k)``."""
    norm = normalize_text(text_col)
    words = (
        df.where(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = words.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum((F.col("c") == 1).cast("int")).alias("v1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("c2"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("n_types"),
        F.col("v1").cast("bigint").alias("hapax_types"),
        (F.col("v").cast("double") / n).alias("ttr"),
        (F.col("v1").cast("double") / F.col("v").cast("double")).alias(
            "hapax_ratio"
        ),
        (
            F.lit(1e4)
            * (F.col("c2").cast("double") - n)
            / (n * n)
        ).alias("yule_k"),
    )


def cross_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    holdout_mod: int = 5,
) -> DataFrame:
    """Held-out unigram cross-entropy / perplexity: an add-one
    -smoothed unigram language model is fit on the training split
    (``id % holdout_mod != 0``) and evaluated on the held-out split —
    the distribution-shift twin of :func:`ngram_novelty`'s
    memorization screen (Chen & Goodman 1996's smoothing baseline;
    the data-selection signal behind DSIR-style importance weights).

        p(w) = (c_w + 1) / (N + V + 1)        (one shared OOV bucket)
        H    = -sum_test count(w) * ln p(w) / N_test
        ppl  = exp(H)

    Scale shape: one tokenize pass, two word-level groupBys, one
    vocab-sized left join (never row-level), and ONE final aggregate.
    Each distinct word's ln p(w) is u6-quantized (floor(ln*1e6)) so
    the weighted sum is pure integer arithmetic and commutes.
    Returns one row ``(n_train_tokens, n_train_types, n_test_tokens,
    oov_tokens, cross_entropy, perplexity)``."""
    norm = normalize_text(text_col)
    base = df.where(
        F.col(id_col).isNotNull() & (F.length(norm) > 0)
    ).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(norm, " ")).alias("w"),
    )
    train = (
        base.where(F.col("id") % holdout_mod != 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_tr"))
    )
    test = (
        base.where(F.col("id") % holdout_mod == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_te"))
    )
    tot = train.agg(
        F.sum("c_tr").alias("n_tr"), F.count(F.lit(1)).alias("v_tr")
    )
    joined = test.join(train, "w", "left").crossJoin(F.broadcast(tot))
    denom = (F.col("n_tr") + F.col("v_tr") + 1).cast("double")
    p = (F.coalesce(F.col("c_tr"), F.lit(0)) + 1).cast("double") / denom
    lnp_u6 = F.floor(F.log(p) * F.lit(1e6)).cast("bigint")
    agg = joined.agg(
        F.sum(F.col("c_te").cast("decimal(19,0)") * lnp_u6).alias("s"),
        F.sum("c_te").alias("n_te"),
        F.sum(
            F.when(F.col("c_tr").isNull(), F.col("c_te")).otherwise(
                F.lit(0)
            )
        ).alias("oov"),
        F.first("n_tr").alias("n_tr"),
        F.first("v_tr").alias("v_tr"),
    )
    h = -F.col("s").cast("double") / 1e6 / F.col("n_te").cast("double")
    return agg.select(
        F.col("n_tr").cast("bigint").alias("n_train_tokens"),
        F.col("v_tr").cast("bigint").alias("n_train_types"),
        F.col("n_te").cast("bigint").alias("n_test_tokens"),
        F.col("oov").cast("bigint").alias("oov_tokens"),
        h.alias("cross_entropy"),
        F.exp(h).alias("perplexity"),
    )


def hill_numbers(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hill-number diversity profile of the token distribution (Hill,
    Ecology 1973; Jost 2006): the effective number of equally-common
    types at orders q = 0, 1, 2 —

        N0 = V (richness)
        N1 = exp(H)            (Shannon diversity)
        N2 = N^2 / sum c_w^2   (inverse Simpson)

    N0 >= N1 >= N2 always; the gaps measure how head-heavy the
    vocabulary is (the diversity companion of Zipf slope and Yule's
    K for corpus-mixture monitoring).  One word groupBy, one final
    aggregate: the Shannon entropy uses the u6-quantized c*ln(c)
    summand discipline (integer sums commute); N2 is an exact
    integer ratio."""
    norm = normalize_text(text_col)
    words = (
        df.where(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clnc_u6 = F.floor(
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
        * F.lit(1e6)
    ).cast("bigint")
    agg = words.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(clnc_u6.cast("decimal(19,0)")).alias("t"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("c2"),
    )
    n = F.col("n").cast("double")
    h = F.log(n) - F.col("t").cast("double") / 1e6 / n
    n2 = (
        F.col("n").cast("decimal(38,0)") * F.col("n")
    ).cast("double") / F.col("c2").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("hill_0"),
        F.exp(h).alias("hill_1"),
        n2.alias("hill_2"),
        h.alias("shannon_h"),
    )


def lexical_richness_by_group(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group :func:`lexical_richness` (TTR, hapax ratio, Yule's
    K) from ONE scan: the word table groups by (group, word), the
    moment aggregate by group — no per-group passes.  The corpus
    -mixture monitor by source/language (a boilerplate-heavy slice
    shows an inflated K against its siblings)."""
    norm = normalize_text(text_col)
    words = (
        df.where((F.length(norm) > 0) & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(F.split(norm, " ")).alias("w"),
        )
        .groupBy("__g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = words.groupBy("__g").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum((F.col("c") == 1).cast("int")).alias("v1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("c2"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("n_types"),
        F.col("v1").cast("bigint").alias("hapax_types"),
        (F.col("v").cast("double") / n).alias("ttr"),
        (F.col("v1").cast("double") / F.col("v").cast("double")).alias(
            "hapax_ratio"
        ),
        (F.lit(1e4) * (F.col("c2").cast("double") - n) / (n * n)).alias(
            "yule_k"
        ),
    )


def vocab_topk_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: "tuple[int, ...]" = (10, 100, 1000),
) -> DataFrame:
    """Head-coverage curve of the token distribution: the fraction of
    all token OCCURRENCES covered by the top-k most frequent types —
    the readout that sizes a BPE/embedding vocabulary and flags a
    boilerplate-dominated corpus (Zipf's law in cumulative form).

    One word groupBy; the rank is a row_number over the VOCAB-sized
    frame ordered (count DESC, word ASC — the deterministic
    tie-break), never over raw rows; one conditional aggregate emits
    every requested k.  Returns one row ``(n_tokens, n_types,
    cov_<k>...)``."""
    norm = normalize_text(text_col)
    words = (
        df.where(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = words.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("w")))
        .alias("r"),
    )
    aggs = [
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
    ] + [
        F.sum(F.when(F.col("r") <= k, F.col("c")).otherwise(F.lit(0))).alias(
            f"top{k}"
        )
        for k in ks
    ]
    agg = ranked.agg(*aggs)
    n = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("n_types"),
        *[
            (F.col(f"top{k}").cast("double") / n).alias(f"cov_{k}")
            for k in ks
        ],
    )


def tokenizer_fertility_by_group(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Tokenizer fertility per group: subword-ish tokens (the
    BPE-proxy of :func:`token_count_bpeish`) over whitespace words —
    the per-language cost multiplier every multilingual training-data
    budget needs (a language with fertility 2.3 consumes 2.3x the
    sequence length per word).  Both counts are per-row integers
    summed exactly; one division per group."""
    norm = normalize_text(text_col)
    ws = F.size(F.split(norm, " "))
    bpe = token_count_bpeish(F.col(text_col))
    base = df.where(
        (F.length(norm) > 0) & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        ws.alias("__w"),
        bpe.alias("__b"),
    )
    agg = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("ws_tokens"),
        F.sum("__b").alias("bpe_tokens"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        (
            F.col("bpe_tokens").cast("double")
            / F.col("ws_tokens").cast("double")
        ).alias("fertility"),
    )


def chao1_vocabulary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Chao1 lower-bound estimate of the TOTAL vocabulary size from
    the observed type counts (Chao, Scand. J. Statist. 1984; the
    bias-corrected form):

        chao1 = V + V1 (V1 - 1) / (2 (V2 + 1))

    with V1/V2 the singleton/doubleton type counts — how many types
    the corpus has INCLUDING the unseen ones, the coverage companion
    of the Good-Turing unseen-mass estimate (a corpus whose chao1 far
    exceeds V is nowhere near vocabulary saturation).  One word
    groupBy, one aggregate, one exact integer-ratio closed form."""
    norm = normalize_text(text_col)
    words = (
        df.where(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = words.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum((F.col("c") == 1).cast("int")).alias("v1"),
        F.sum((F.col("c") == 2).cast("int")).alias("v2"),
        F.sum("c").alias("n"),
    )
    v1 = F.col("v1").cast("double")
    v2 = F.col("v2").cast("double")
    chao = F.col("v").cast("double") + v1 * (v1 - 1.0) / (
        2.0 * (v2 + 1.0)
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("n_types"),
        F.col("v1").cast("bigint").alias("singletons"),
        F.col("v2").cast("bigint").alias("doubletons"),
        chao.alias("chao1"),
        (chao - F.col("v").cast("double")).alias("unseen_types_est"),
    )


def token_evenness_by_group(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Pielou's evenness J = H / ln V of the token distribution per
    group (Pielou, J. Theor. Biol. 1966): how uniformly each slice
    spreads its vocabulary, on [0, 1] — the normalized companion of
    the per-group richness report (two corpora with equal TTR can
    differ wildly in head-heaviness; J separates them).  One
    (group, word) groupBy; H uses the u6-quantized c ln c summand
    discipline; J is one division (NULL for single-type groups, per
    the ANSI rule)."""
    norm = normalize_text(text_col)
    words = (
        df.where((F.length(norm) > 0) & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(F.split(norm, " ")).alias("w"),
        )
        .groupBy("__g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clnc_u6 = F.floor(
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
        * F.lit(1e6)
    ).cast("bigint")
    agg = words.groupBy("__g").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(clnc_u6.cast("decimal(19,0)")).alias("t"),
    )
    n = F.col("n").cast("double")
    h = F.log(n) - F.col("t").cast("double") / 1e6 / n
    j = F.when(F.col("v") > 1, h / F.log(F.col("v").cast("double")))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("n_types"),
        h.alias("shannon_h"),
        j.alias("evenness"),
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """The one-row corpus "dataset card": the summary block a corpus
    release publishes up front (inventory, token mass, lexical
    richness, exact-duplicate share, language mix), composing the
    engine's corpus-analytics aggregates into ONE result — each
    constituent is individually differential-verified elsewhere
    (:func:`lexical_richness`, :func:`corpus_report`, the dedup
    family); this composes their plans.

    Three group-cardinality-sized aggregates over one logical corpus
    scan each — a doc-level aggregate (counts, token mass, distinct
    normalized texts), a vocab aggregate (types/hapax), and a
    language-mix entropy — combined by crossJoin of 1-row frames (the
    documented broadcast 1-row reduction pattern).  The entropy rides
    u6-quantized per-language terms summed as integers (the
    transcendental-sum discipline), so the card is engine-exact and
    partition-order-free.  Returns one row ``(n_docs, n_sources,
    n_langs, n_tokens, n_types, hapax_types, n_exact_unique,
    mean_tokens, ttr, hapax_ratio, exact_dup_ratio,
    lang_entropy_u6)``; a ratio over a zero count is NULL, as SQL's
    division gives, so an empty corpus has NULL ratios."""
    norm = normalize_text(text_col)
    docs = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col(source_col)).alias("n_sources"),
        F.countDistinct(F.col(lang_col)).alias("n_langs"),
        F.sum(
            F.when(F.length(norm) > 0, F.size(F.split(norm, " ")))
            .otherwise(F.lit(0))
            .cast("bigint")
        ).alias("n_tokens"),
        F.countDistinct(norm).alias("n_exact_unique"),
    )
    vocab = (
        df.where(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("c") == 1).cast("int"))
            .cast("bigint")
            .alias("hapax_types"),
        )
    )
    lang_n = (
        df.where(F.col(lang_col).isNotNull())
        .groupBy(lang_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    ent = (
        lang_n.select(
            F.floor(-p * F.log(p) * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("__t")
        )
        .agg(F.sum("__t").cast("bigint").alias("lang_entropy_u6"))
    )
    nd = F.col("n_docs").cast("double")
    return (
        docs.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "n_tokens",
            "n_types",
            "hapax_types",
            "n_exact_unique",
            F.try_divide(F.col("n_tokens").cast("double"), nd).alias(
                "mean_tokens"
            ),
            F.try_divide(
                F.col("n_types").cast("double"),
                F.col("n_tokens").cast("double"),
            ).alias("ttr"),
            F.try_divide(
                F.col("hapax_types").cast("double"),
                F.col("n_types").cast("double"),
            ).alias("hapax_ratio"),
            F.try_divide(
                nd - F.col("n_exact_unique").cast("double"), nd
            ).alias("exact_dup_ratio"),
            "lang_entropy_u6",
        )
    )


def dataset_card_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per-group :func:`dataset_card` core (the per-SOURCE monitoring
    card an ingest pipeline reads per partner feed): document count,
    token mass, vocabulary size, type-token ratio, and the exact
    -duplicate share WITHIN the group — one doc-level and one
    word-level aggregate, both group-sized, joined on the group key
    (broadcast-sized join at any corpus scale).  Returns one row per
    group ``(group, n_docs, n_tokens, n_types, n_exact_unique,
    mean_tokens, ttr, exact_dup_ratio)`` ordered by group."""
    norm = normalize_text(text_col)
    base = df.where(F.col(group_col).isNotNull())
    docs = base.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.length(norm) > 0, F.size(F.split(norm, " ")))
            .otherwise(F.lit(0))
            .cast("bigint")
        ).alias("n_tokens"),
        F.countDistinct(norm).alias("n_exact_unique"),
    )
    vocab = (
        base.where(F.length(norm) > 0)
        .select(
            F.col(group_col).alias("group"),
            F.explode(F.split(norm, " ")).alias("w"),
        )
        .groupBy("group", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("group")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    nd = F.col("n_docs").cast("double")
    return (
        docs.join(vocab, "group", "left")
        .select(
            "group",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("n_types"), F.lit(0)).alias("n_types"),
            "n_exact_unique",
            (F.col("n_tokens").cast("double") / nd).alias("mean_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("n_types"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            ).alias("ttr"),
            ((nd - F.col("n_exact_unique").cast("double")) / nd).alias(
                "exact_dup_ratio"
            ),
        )
        .orderBy("group")
    )
