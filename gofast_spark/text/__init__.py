"""Text analysis operators over string columns (SURVEY §2.9 text families +
the LLM-data-pipeline text layer: normalization, tokenization, quality
scoring, language-ID heuristic, document fingerprinting).

Reference semantics: gofast/utils/text.py:53-740 (clean/normalize/tokenize),
gofast/dataops/transformation.py:31 (summarize_text_columns) — re-expressed
as native ``pyspark.sql.functions`` column expressions (JVM-side, codegen'd;
no Python UDFs in the hot path).
"""

from gofast_spark.text.analysis import (
    language_id,
    normalize_text,
    quality_score,
    readability,
    text_stats,
    token_count_bpeish,
    tokenize_text,
)
from gofast_spark.text.columns import (
    decode_text,
    encode_text,
    summarize_text_columns,
    tokenize_text_columns,
    vectorize_text_columns,
)
from gofast_spark.text.classifier import (
    linear_text_scores,
    quality_classifier_filter,
)
from gofast_spark.text.contamination import contamination_check, decontaminate
from gofast_spark.text.corpus_filter import DEFAULT_RULES, corpus_filter
from gofast_spark.text.pii import (
    PII_PATTERNS,
    pii_profile,
    redact_pii,
    redact_pii_col,
)
from gofast_spark.text.bpe import bpe_learn_merges, bpe_segment, word_freq_table
from gofast_spark.text.dsir import dsir_logweights, dsir_resample
from gofast_spark.text.entropy import char_entropy_frame
from gofast_spark.text.masking import mlm_token_mask, span_corruption
from gofast_spark.text.repetition import repetition_signals
from gofast_spark.text.bm25 import (
    bm25_topk,
    build_postings,
    corpus_stats,
    tfidf_topk_terms,
)
from gofast_spark.text.lm import score_documents, train_bigram_lm
from gofast_spark.text.chunking import chunk_documents
from gofast_spark.text.features import hashed_tf_sparse, hashed_tf_vector
from gofast_spark.text.hashing import (
    LCG_A,
    LCG_C,
    LCG_M,
    char_hash,
    char_hash_sql,
    doc_fingerprint,
    md5_hash64,
    md5_hash64_sql,
)

__all__ = [
    "normalize_text",
    "tokenize_text",
    "token_count_bpeish",
    "readability",
    "text_stats",
    "quality_score",
    "language_id",
    "repetition_signals",
    "char_entropy_frame",
    "mlm_token_mask",
    "span_corruption",
    "dsir_logweights",
    "bpe_learn_merges",
    "bpe_segment",
    "word_freq_table",
    "dsir_resample",
    "corpus_filter",
    "bm25_topk",
    "build_postings",
    "corpus_stats",
    "tfidf_topk_terms",
    "train_bigram_lm",
    "score_documents",
    "chunk_documents",
    "hashed_tf_sparse",
    "hashed_tf_vector",
    "DEFAULT_RULES",
    "redact_pii",
    "redact_pii_col",
    "pii_profile",
    "PII_PATTERNS",
    "char_hash",
    "char_hash_sql",
    "md5_hash64",
    "md5_hash64_sql",
    "doc_fingerprint",
    "encode_text",
    "decode_text",
    "tokenize_text_columns",
    "vectorize_text_columns",
    "linear_text_scores",
    "quality_classifier_filter",
    "contamination_check",
    "decontaminate",
    "summarize_text_columns",
    "LCG_A",
    "LCG_C",
    "LCG_M",
]
