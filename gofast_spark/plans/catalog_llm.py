"""LLM-data-pipeline catalog entries over documents.parquet /
embeddings.parquet: text stats, quality + language-ID, fingerprints, exact
and MinHash-LSH dedup, SimHash, cosine top-k, LSH-bucketed ANN, and the
multimodal blob plumbing.

Every oracle below is generated from the SAME Python constants that feed
the Spark plans (LCG char hash, minhash coefficients, LSH hyperplanes), so
DuckDB reproduces each signature bit-for-bit — the differential gate
verifies the algorithms, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.dedup.minhash import (
    MINHASH_COEFFS,
    MINHASH_P,
    spread_small_scan,
)
from gofast_spark.plans.catalog import ORACLE_SQL, _t, query
from gofast_spark.session import pin
from gofast_spark.sim.lsh import hyperplane_weight
from gofast_spark.text.analysis import EN_STOPWORDS, LANG_STOPWORDS
from gofast_spark.text.hashing import char_hash_sql, md5_hash64_sql


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread across the cluster: the text entries run
    token-array higher-order functions (interpreted, compute-heavy), and a
    single small parquet part would pin them to one core.
    :func:`gofast_spark.dedup.minhash.spread_small_scan` adds the
    repartition when the scan's estimated split count is below the
    session's parallelism."""
    return spread_small_scan(_t(spark, sf_dir, "documents"))


# --- shared DuckDB SQL fragments (mirror text.analysis exactly) -----------

def _norm_sql(c: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({c}), "
        f"'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_STOP = _sql_list(EN_STOPWORDS)

# shingle CTEs shared by the minhash entries (k=3 token shingles, distinct
# (doc, hash) pairs — mirrors dedup.minhash.doc_shingles)
_SHINGLE_CTES = f"""
    norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, '|')]
             ELSE list_transform(range(1, len(tk) - 1),
                  i -> tk[i] || '|' || tk[i+1] || '|' || tk[i+2]) END)) AS s
      FROM toks),
    shh AS (SELECT DISTINCT doc_id, {md5_hash64_sql('s')} % 2147483648 AS h FROM sh),
    sig AS (
      SELECT doc_id,
             {", ".join(f"min(({a} * h + {b}) % {MINHASH_P}) AS mh_{j}"
                        for j, (a, b) in enumerate(MINHASH_COEFFS))}
      FROM shh GROUP BY doc_id)
"""


# ---------------------------------------------------------------------------
# Text analysis (SURVEY §2.9 text families; builder-brief text layer)
# ---------------------------------------------------------------------------


@query(
    "text_stats_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, text, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, text, string_split(t, ' ') AS tk FROM norm)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_unique_tokens,
           CAST(round(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk), 4) AS DOUBLE) AS avg_token_len,
           CAST(round(len(list_filter(tk, x -> list_contains({_STOP}, x))) * 1.0 / len(tk), 4) AS DOUBLE) AS stopword_ratio
    FROM toks
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text statistics (text_analysis, gofast/utils/text.py:838)."""
    from gofast_spark.text import text_stats

    # fixture already carries an n_chars column; keep only what we recompute
    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = text_stats(d, "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_unique_tokens").cast("bigint").alias("n_unique_tokens"),
        F.round("avg_token_len", 4).cast("double").alias("avg_token_len"),
        F.round("stopword_ratio", 4).cast("double").alias("stopword_ratio"),
    )


@query(
    "text_quality_language",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm)
    SELECT doc_id,
           CAST(round(
             0.4 * least(len(tk) / 50.0, 1.0)
           + 0.4 * (len(list_distinct(tk)) * 1.0 / len(tk))
           + 0.2 * (1 - len(list_filter(tk, x -> list_contains({_STOP}, x))) * 1.0 / len(tk)),
           4) AS DOUBLE) AS quality,
           list_sort([
             {", ".join(
                 "{'neg': -len(list_filter(tk, x -> list_contains(%s, x))), 'code': '%s'}"
                 % (_sql_list(words), lang)
                 for lang, words in sorted(LANG_STOPWORDS.items())
             )}
           ])[1].code AS lang_pred
    FROM toks
    """,
)
def text_quality_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + heuristic language-ID (builder-brief text layer)."""
    from gofast_spark.text import language_id, quality_score

    d = _docs(spark, sf_dir)
    out = language_id(quality_score(d, "text"), "text")
    return out.select(
        "doc_id",
        F.round("quality", 4).cast("double").alias("quality"),
        "lang_pred",
    )


@query(
    "doc_fingerprint_tokens",
    oracle=f"""
    WITH norm AS (SELECT doc_id, text, {_norm_sql('text')} AS t FROM documents)
    SELECT doc_id,
           {char_hash_sql('t')} AS fingerprint,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe
    FROM norm
    """,
)
def doc_fingerprint_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable document fingerprint + BPE-ish token count."""
    from gofast_spark.text import doc_fingerprint, normalize_text, token_count_bpeish

    d = _docs(spark, sf_dir).withColumn("__norm", normalize_text("text"))
    return d.select(
        "doc_id",
        doc_fingerprint("__norm").alias("fingerprint"),
        token_count_bpeish("text").cast("bigint").alias("n_tokens_bpe"),
    )


@query(
    "encode_decode_text_roundtrip",
    oracle="""
    SELECT doc_id,
           base64(encode(text)) AS b64,
           substr(text, 1, 20) AS head
    FROM documents
    """,
)
def encode_decode_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64 encode + decode round-trip (encode_text/decode_text,
    gofast/utils/text.py:1560, 1651); the decoded head must equal the
    original, proving the round trip, and the base64 itself matches
    DuckDB byte-for-byte."""
    from gofast_spark.text.columns import decode_text, encode_text

    d = _t(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        encode_text("text").alias("b64"),
    )
    return out.select(
        "doc_id",
        "b64",
        F.substring(decode_text("b64"), 1, 20).alias("head"),
    )


@query(
    "summarize_text_head",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents)
    SELECT doc_id,
           array_to_string(string_split(t, ' ')[1:12], ' ') AS text_summary
    FROM norm
    """,
)
def summarize_text_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-bias extractive summary (summarize_text_columns,
    gofast/dataops/transformation.py:31 — deterministic approximation)."""
    from gofast_spark.text.columns import summarize_text_columns

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = summarize_text_columns(d, ["text"], max_tokens=12)
    return out.select("doc_id", "text_summary")


# ---------------------------------------------------------------------------
# Dedup (builder-brief: exact, MinHash-LSH, SimHash — bucketed, never n²)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_prefix",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents)
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS group_size
    FROM norm GROUP BY substr(t, 1, 80)
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized 80-char prefix (the fixture's planted
    duplicates share long prefixes).  handle_duplicates 'drop' semantics
    (gofast/dataops/quality.py:4677) with deterministic keep-first."""
    from gofast_spark.dedup import exact_dedup
    from gofast_spark.text import normalize_text

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("__prefix", F.substring(normalize_text("text"), 1, 80))
    )
    out = exact_dedup(
        d, "__prefix", keep="first", order_by="doc_id", group_size_col="group_size"
    )
    return out.select("doc_id", "group_size")


@query(
    "minhash_signatures_documents",
    oracle=f"""
    WITH {_SHINGLE_CTES}
    SELECT doc_id, {", ".join(f"mh_{j}" for j in range(16))} FROM sig
    """,
)
def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-wide MinHash signatures — DuckDB reproduces every value exactly
    (portable LCG char hash + integer (a*h+b) mod P)."""
    from gofast_spark.dedup import doc_shingles, minhash_signatures

    d = _docs(spark, sf_dir)
    sh = doc_shingles(d, "doc_id", "text", k=3)
    return minhash_signatures(sh, "doc_id", num_hashes=16)


@query(
    "minhash_near_dup_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, mh_{2*b} * 2147483648 + mh_{2*b+1} AS band_key FROM sig"
          for b in range(8)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
    """,
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified at 0.8.
    Candidate generation is a bucketed band-key equi-join — no crossJoin."""
    from gofast_spark.dedup import near_dup_pairs

    d = _docs(spark, sf_dir)
    out = near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 4).cast("double").alias("jaccard")
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 64),
    rsh AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs at 0.8 with rare-shingle
    blocking (max_df=64): deterministic, non-probabilistic counterpart to
    minhash_near_dup_pairs over the same shingle universe."""
    from gofast_spark.dedup import ngram_jaccard_pairs as pairs

    d = _docs(spark, sf_dir)
    out = pairs(d, "doc_id", "text", k=3, threshold=0.8, max_df=64)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 4).cast("double").alias("jaccard")
    )


@query(
    "simhash_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
    h AS (SELECT doc_id, {md5_hash64_sql('w')} AS th FROM tok),
    votes AS (
      SELECT doc_id,
             {", ".join(f"sum(2 * ((th >> {k}) & 1) - 1) AS v_{k}" for k in range(16))}
      FROM h GROUP BY doc_id)
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v_{k} >= 0 THEN {2**k} ELSE 0 END)" for k in range(16))} AS BIGINT) AS simhash
    FROM votes
    """,
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (Charikar), integer-exact across engines."""
    from gofast_spark.dedup import simhash

    # _docs, not _t: simhash's explode runs on the input partitioning
    # and the spread is the caller's job since r15 (see dedup/simhash.py)
    d = _docs(spark, sf_dir)
    return simhash(d, "doc_id", "text", bits=16)


# ---------------------------------------------------------------------------
# Similarity search over embeddings (builder-brief: brute-force + LSH path)
# ---------------------------------------------------------------------------

_DOT64 = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM64 = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@query(
    "embedding_norm_by_label",
    oracle=f"""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(avg({_NORM64.format(v='embedding')}), 4) AS DOUBLE) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column handling smoke: L2 norms aggregated per label."""
    from gofast_spark.sim import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    return (
        e.withColumn("__norm", l2_norm(F.col("embedding")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("__norm"), 4).cast("double").alias("avg_norm"),
        )
    )


@query(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, e.vec_id,
             {_DOT64.format(a='q.qv', b='e.embedding')}
             / ({_NORM64.format(v='q.qv')} * {_NORM64.format(v='e.embedding')}) AS cos_sim
      FROM embeddings e, q WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(cos_sim, 6) DESC, vec_id) AS INTEGER) AS rank
    FROM pairs QUALIFY rank <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 probe vectors — the ANN baseline.
    Plan: broadcast the probes, single corpus scan, per-query rank window."""
    from gofast_spark.sim import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    out = cosine_topk(e, q, "vec_id", "embedding", k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def _bucket_sql(vec: str, bits: int = 4) -> str:
    """DuckDB bucket id under the same integer hyperplanes as sim.lsh."""
    parts = []
    for j in range(bits):
        ws = "[" + ", ".join(str(hyperplane_weight(j, i)) for i in range(64)) + "]"
        dot = (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({ws})[i]))"
        )
        parts.append(f"(CASE WHEN {dot} >= 0 THEN {2**j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


@query(
    "embedding_lsh_topk",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM c WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, c.vec_id, c.bucket,
             {_DOT64.format(a='q.qv', b='c.embedding')}
             / ({_NORM64.format(v='q.qv')} * {_NORM64.format(v='c.embedding')}) AS cos_sim
      FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
    SELECT query_id, vec_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(cos_sim, 6) DESC, vec_id) AS INTEGER) AS rank
    FROM pairs QUALIFY rank <= 5
    """,
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 — the scale path: equi-join on bucket id
    instead of scanning the whole corpus per query."""
    from gofast_spark.sim import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    out = lsh_topk(e, q, "vec_id", "embedding", dim=64, bits=4, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


_IVF_HASH = (
    "(CAST(('0x' || substr(md5(CAST(vec_id AS STRING)), 1, 15)) AS BIGINT)"
    " % 2147483648)"
)
_IVF_COS = (
    f"{_DOT64.format(a='{a}', b='{b}')}"
    f" / ({_NORM64.format(v='{a}')} * {_NORM64.format(v='{b}')})"
)


@query(
    "embedding_ivf_topk",
    oracle=f"""
    WITH lm AS (
      SELECT vec_id AS lid, embedding AS lv,
             CAST(row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS INTEGER) - 1 AS cell
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) <= 8),
    ac AS (
      SELECT e.vec_id, e.embedding, l.cell,
             {_IVF_COS.format(a='e.embedding', b='l.lv')} AS cs
      FROM embeddings e, lm l),
    cells AS (
      SELECT vec_id, embedding, cell FROM ac
      QUALIFY row_number() OVER (PARTITION BY vec_id
              ORDER BY round(cs, 6) DESC, cell) = 1),
    qp AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, l.cell,
             {_IVF_COS.format(a='q.embedding', b='l.lv')} AS cs
      FROM embeddings q, lm l WHERE q.vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(cs, 6) DESC, l.cell) <= 2),
    pairs AS (
      SELECT qp.query_id, c.vec_id, c.cell,
             {_IVF_COS.format(a='qp.qv', b='c.embedding')} AS cos_sim
      FROM cells c JOIN qp ON c.cell = qp.cell AND c.vec_id <> qp.query_id)
    SELECT query_id, vec_id, CAST(cell AS INTEGER) AS cell,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(cos_sim, 6) DESC, vec_id) AS INTEGER) AS rank
    FROM pairs QUALIFY rank <= 5
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-IVF ANN top-5, the fully differential-testable IVF path:
    cells anchored at the 8 corpus vectors with the smallest portable id
    hash (zero Lloyd iterations), candidates from an equi-join on the 2
    probed cell ids, exact cosine re-rank inside — every step relational,
    so the DuckDB oracle rebuilds cells, probes, and ranks bit-for-bit.
    The trained-quantizer variant (better-centered cells, same plan
    shape) is registered as embedding_ivf_kmeans_topk — oracle-backed
    since r14 via the exact-kmeans quantizer — and recall-guarded in
    tests/test_ann_recall.py."""
    from gofast_spark.sim import ivf_topk_portable

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    out = ivf_topk_portable(
        e, q, "vec_id", "embedding", nlist=8, nprobe=2, k=5
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


_IVFKM_K, _IVFKM_ITER, _IVFKM_D = 8, 2, 64
_IVFKM_NPROBE, _IVFKM_TOPK, _IVFKM_QCUT = 2, 5, 5


def _ivf_kmeans_oracle() -> str:
    """Full relational replay of the exact-k-means IVF path
    (sim/ivf.py ivf_topk_kmeans_exact + ml/kmeans_exact.py): micro-unit
    quantization, md5-seeded init, 2 unrolled integer Lloyd iterations
    over all 64 dims, nearest-cell assignment and 2-cell probes by
    exact int64 distance (ties by cell id), then the exact cosine
    re-rank inside the probed cells.  Same CTE pattern as catalog_ml's
    _kmeans_oracle, widened to 64 dims and extended with the
    assign/probe/re-rank tail."""
    K, ITER, D = _IVFKM_K, _IVFKM_ITER, _IVFKM_D
    NPROBE, TOPK, QCUT = _IVFKM_NPROBE, _IVFKM_TOPK, _IVFKM_QCUT
    xs = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000 + 0.5)"
        f" AS BIGINT) AS x{i}"
        for i in range(D)
    )
    ctes = [f"""pts AS MATERIALIZED (
      SELECT vec_id AS id, embedding,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv,
             {xs}
      FROM embeddings WHERE vec_id IS NOT NULL),
    c0 AS (
      SELECT row_number() OVER (ORDER BY hv) - 1 AS cid,
             {", ".join(f"x{i} AS k{i}" for i in range(D))}
      FROM (SELECT * FROM pts ORDER BY hv LIMIT {K}))"""]
    dist = " + ".join(
        f"(p.x{i} - c.k{i}) * (p.x{i} - c.k{i})" for i in range(D)
    )
    for t in range(1, ITER + 1):
        p = t - 1
        ctes.append(f"""a{t} AS (
      SELECT id, {", ".join(f"x{i}" for i in range(D))}, cid FROM (
        SELECT p.id, {", ".join(f"p.x{i}" for i in range(D))}, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, c{p} c) WHERE rn = 1),
    u{t} AS (
      SELECT cid,
             {", ".join(
                 f"CAST(trunc(CAST(sum(x{i}) AS DOUBLE) / count(*))"
                 f" AS BIGINT) AS k{i}" for i in range(D))}
      FROM a{t} GROUP BY cid),
    c{t} AS (
      SELECT c{p}.cid,
             {", ".join(
                 f"coalesce(u{t}.k{i}, c{p}.k{i}) AS k{i}"
                 for i in range(D))}
      FROM c{p} LEFT JOIN u{t} USING (cid))""")
    ctes.append(f"""cells AS MATERIALIZED (
      SELECT id, embedding, cid AS cell FROM (
        SELECT p.id, p.embedding, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, c{ITER} c) WHERE rn = 1),
    qp AS MATERIALIZED (
      SELECT id AS query_id, embedding AS qv, cid AS cell FROM (
        SELECT p.id, p.embedding, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, c{ITER} c WHERE p.id < {QCUT}) WHERE rn <= {NPROBE}),
    pairs AS (
      SELECT qp.query_id, c.id AS vec_id, c.cell,
             {_IVF_COS.format(a='qp.qv', b='c.embedding')} AS cos_sim
      FROM cells c JOIN qp ON c.cell = qp.cell AND c.id <> qp.query_id)""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, vec_id, CAST(cell AS INTEGER) AS cell,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(cos_sim, 6) DESC, vec_id) AS INTEGER) AS rank
    FROM pairs QUALIFY rank <= {TOPK}
    """


@query("embedding_ivf_kmeans_topk", oracle=_ivf_kmeans_oracle())
def embedding_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-5 with a TRAINED (k-means) coarse quantizer —
    ORACLE-BACKED since r14 (r13 verdict ask #2, ex-parked): the Lloyd
    stage is the engine-portable exact k-means of ml/kmeans_exact.py
    (integer micro-units, md5-hash-seeded init, truncated-mean updates,
    2 iterations over all 64 dims), so the entire path — train, assign,
    probe, exact cosine re-rank — replays in SQL bit-for-bit.  Cells
    are Euclidean (FAISS IndexIVFFlat convention); candidates come from
    an equi-join on the 2 probed cell ids; the MLlib spherical-kmeans
    production path stays recall-guarded in tests/test_ann_recall.py."""
    from gofast_spark.sim import ivf_topk_kmeans_exact

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _IVFKM_QCUT)
    out = ivf_topk_kmeans_exact(
        e, q, "vec_id", "embedding",
        dim=_IVFKM_D, nlist=_IVFKM_K, nprobe=_IVFKM_NPROBE, k=_IVFKM_TOPK,
        iterations=_IVFKM_ITER,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Multimodal blob plumbing (builder-brief; decode stubbed, plumbing real)
# ---------------------------------------------------------------------------


@query(
    "multimodal_blob_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, least(length(text), 64) + 1),
                       i -> unicode(substr(text, i, 1)))) END AS s
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE unicode(substr(text, 1, 1)) END AS INTEGER) AS head_byte,
           CAST(64 + s % 256 AS INTEGER) AS width,
           CAST(64 + (s * 31) % 256 AS INTEGER) AS height
    FROM b
    """,
)
def multimodal_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the Arrow mapInPandas
    plumbing (deterministic fake decode — ASCII payloads make it
    SQL-verifiable, so even the stub is oracle-checked).  Parity
    contract (r14 review): NULL payloads are filtered on BOTH sides
    (the stub decodes them to 0/64/64 while SQL NULL-propagates), and
    the replay is exact only for single-byte (ASCII) text, where SQL
    character length/codepoints equal the stub's byte view — true of
    the testdata and asserted nowhere else."""
    from gofast_spark.multimodal import blob_features

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
    )
    return blob_features(d, "doc_id", "payload")


@query(
    "multimodal_media_card_documents",
    oracle="""
    WITH b AS (
      SELECT doc_id, source, text,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, least(length(text), 64) + 1),
                       i -> unicode(substr(text, i, 1)))) END AS s
      FROM documents WHERE text IS NOT NULL),
    f AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_bytes,
             CAST(64 + s % 256 AS INTEGER) AS width,
             CAST(64 + (s * 31) % 256 AS INTEGER) AS height
      FROM b)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_blobs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN n_bytes >= 16 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_decodable,
           CAST(round(avg(width), 4) AS DOUBLE) AS avg_width,
           CAST(round(avg(height), 4) AS DOUBLE) AS avg_height,
           CAST(sum(CASE WHEN width * height > 16384 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_large
    FROM f GROUP BY source ORDER BY source
    """,
)
def multimodal_media_card_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source MEDIA release card — the first COMPOSED consumer of
    the multimodal blob plumbing (r13 verdict ask #4): decode features
    flow from blob_features' Arrow mapInPandas straight into a
    per-source aggregate via the new ``passthrough`` metadata channel
    (the source key rides the Arrow batches — no features-to-metadata
    shuffle join), producing the inventory card an image/video corpus
    build ships next to its text card: blob count, byte mass,
    decodable count (>= 16-byte payloads), mean decoded dims, and the
    large-frame count (w*h > 128^2).  The stub decoder is
    deterministic ASCII arithmetic, so the whole composition is
    oracle-checked like the rest of the catalog.  Same parity contract
    as multimodal_blob_features: NULL payloads filtered on both sides,
    replay exact for single-byte text."""
    from gofast_spark.multimodal import blob_features

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", F.col("text").cast("binary").alias("payload"))
    )
    feats = blob_features(d, "doc_id", "payload", passthrough=["source"])
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.sum((F.col("n_bytes") >= 16).cast("int"))
            .cast("bigint")
            .alias("n_decodable"),
            F.round(F.avg("width"), 4).cast("double").alias("avg_width"),
            F.round(F.avg("height"), 4).cast("double").alias("avg_height"),
            F.sum((F.col("width") * F.col("height") > 16384).cast("int"))
            .cast("bigint")
            .alias("n_large"),
        )
        .orderBy("source")
    )


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
             {_DOT64.format(a='a.embedding', b='b.embedding')}
             / ({_NORM64.format(v='a.embedding')} * {_NORM64.format(v='b.embedding')}) AS cos_sim
      FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, CAST(bucket AS INTEGER) AS bucket,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim
    FROM pairs WHERE round(cos_sim, 6) >= 0.3
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket blocking — the
    fourth member of the near-dup family (exact / MinHash-Jaccard /
    SimHash / cosine).  Candidates come from the bucket self-join, never
    all-pairs; the 0.3 threshold matches the synthetic embeddings'
    near-isotropic cosine range."""
    from gofast_spark.sim import cosine_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    out = cosine_near_dup_pairs(
        e, "vec_id", "embedding", dim=64, threshold=0.3, bits=4
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("bucket").cast("int").alias("bucket"),
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
    )


@query(
    "multimodal_resize_blobs",
    oracle="""
    SELECT doc_id,
           CAST(least(length(text), 16) + 2 AS BIGINT) AS r_len,
           CAST(224 AS INT) AS width,
           CAST(224 AS INT) AS height,
           CAST(1 AS INT) AS content_ok
    FROM documents
    """,
)
def multimodal_resize_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (multimodal.resize_image_blobs): binary-in/
    binary-out mapInPandas with the deterministic stub kernel (head bytes
    + dims tag).  ASCII payloads make even the stub differentially
    checkable: the resized payload's length, dims, and byte-level prefix
    (must equal the source text's first 16 bytes) are verified per row —
    content_ok flips to 0 on any corruption and fails the hash."""
    from gofast_spark.multimodal import resize_image_blobs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.col("text").cast("binary").alias("payload")
    )
    out = resize_image_blobs(d, "doc_id", "payload", target=(224, 224))
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("__sid"), F.col("text").alias("__text")
    )
    joined = out.join(src, F.col("doc_id") == F.col("__sid"))
    prefix = F.expr("CAST(substring(resized, 1, length(resized) - 2) AS STRING)")
    return joined.select(
        "doc_id",
        F.length("resized").cast("bigint").alias("r_len"),
        "width",
        "height",
        (prefix == F.substring("__text", 1, 16)).cast("int").alias("content_ok"),
    )


@query(
    "video_frame_sample_agg",
    oracle="""
    WITH v AS (
      SELECT doc_id, length(text) AS len,
             1000 + (length(text) * 37) % 60000 AS dur
      FROM documents)
    SELECT CAST(j AS INT) AS frame_idx,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dur * j // 3) AS BIGINT) AS ts_sum,
           CAST(sum(least(greatest(len - j, 0), 8) + 1) AS BIGINT) AS f_bytes
    FROM v, range(4) t(j)
    GROUP BY 1
    """,
)
def video_frame_sample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (multimodal.sample_video_frames):
    the 1-to-N row fan-out inside Arrow batches, deterministic stub
    timestamps (fake duration from payload size, uniform spacing) and
    per-frame payload sizes — all replayed relationally in DuckDB from
    the documents table x range(n_frames)."""
    from gofast_spark.multimodal import sample_video_frames

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    frames = sample_video_frames(d, "doc_id", "payload", n_frames=4)
    return frames.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ts_ms").alias("ts_sum"),
        F.sum(F.length("frame").cast("bigint")).alias("f_bytes"),
    )


@query(
    "ivf_kmeans_fullprobe_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, e.vec_id,
             {_DOT64.format(a='q.qv', b='e.embedding')}
             / ({_NORM64.format(v='q.qv')} * {_NORM64.format(v='e.embedding')}) AS cos_sim
      FROM embeddings e, q WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id,
           CAST(round(cos_sim, 4) AS DOUBLE) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(cos_sim, 6) DESC, vec_id) AS INTEGER) AS rank
    FROM pairs QUALIFY rank <= 5
    """,
)
def ivf_kmeans_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full differential oracle for the MLlib kmeans-IVF path (VERDICT
    r5 #4; embedding_ivf_kmeans_topk itself carries its own full oracle
    since r14 via the exact quantizer): with nprobe == nlist every
    cell is probed, so IVF candidate generation + exact re-rank MUST
    reproduce brute-force top-k exactly, whatever the Lloyd iterations
    produced — cell assignment washes out while the trained-centroid
    machinery (seeded sample, Lloyd, assign, probe, re-rank) still runs
    end to end."""
    from gofast_spark.sim import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    out = ivf_topk(
        e, q, "vec_id", "embedding", nlist=8, nprobe=8, k=5, seed=3
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 4).cast("double").alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@query(
    "ivf_kmeans_recall_floor",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_queries, CAST(1 AS INT) AS recall_ok
    """,
)
def ivf_kmeans_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant entry for the PRUNED kmeans-IVF path (nprobe=2 of 8):
    recall vs the exact top-5 must clear the floor (0.3 — observed
    0.36 at sf0.001 and 0.44 at sf0.01 on the near-isotropic synthetic
    embeddings, deterministic for the fixed seed; chance at k=5 of 500
    is ~0.01).  Complements ivf_kmeans_fullprobe_topk, which proves
    exactness when nothing is pruned."""
    from pyspark.sql import Window

    from gofast_spark.sim import ivf_topk
    from gofast_spark.sim.cosine import cosine_sim

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    ivf = ivf_topk(
        e, q, "vec_id", "embedding", nlist=8, nprobe=2, k=5, seed=3
    ).select("query_id", "vec_id")
    qq = q.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    pairs = (
        e.crossJoin(F.broadcast(qq))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cs", cosine_sim(F.col("__qv"), F.col("embedding")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cs", 6).desc(), F.col("vec_id")
    )
    exact = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("query_id", "vec_id")
    )
    hits = ivf.join(exact, on=["query_id", "vec_id"]).count()
    n_q = exact.select("query_id").distinct().count()
    recall = hits / float(n_q * 5)
    return spark.createDataFrame(
        [(n_q, int(recall >= 0.3))], "n_queries bigint, recall_ok int"
    )


# --- duplicate-cluster assignment (connected components) ------------------

_PAIR_CTES = f"""
    {_SHINGLE_CTES},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, mh_{2*b} * 2147483648 + mh_{2*b+1} AS band_key FROM sig"
          for b in range(8)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
    ),
    cedges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    comp(id, lab) AS (
      SELECT DISTINCT src, src FROM cedges
      UNION
      SELECT e.dst, c.lab FROM comp c JOIN cedges e ON e.src = c.id
    )"""


@query(
    "near_dup_clusters_documents",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES}
    SELECT id, min(lab) AS cluster_id FROM comp GROUP BY id
    """,
)
def near_dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: MinHash-LSH pairs at 0.8 fed through
    exact hash-min connected components (dedup/cluster.py).  The oracle
    recomputes the same pair graph relationally and takes its transitive
    closure with a recursive CTE — min reachable doc id per vertex —
    verifying the iterative Spark propagation end-to-end."""
    from gofast_spark.dedup import near_dup_clusters

    d = _docs(spark, sf_dir)
    return near_dup_clusters(d, "doc_id", "text", threshold=0.8)


@query(
    "near_dup_canonical_survivors",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    clusters AS (SELECT id, min(lab) AS cluster_id FROM comp GROUP BY id)
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN clusters c ON c.id = d.doc_id
    WHERE c.id IS NULL OR d.doc_id = c.cluster_id
    """,
)
def near_dup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup of the documents corpus: keep the min-id
    member of each duplicate cluster plus every unclustered doc.  The
    corpus side is one broadcast left join + filter — the heavy work
    stays on the (tiny) pair graph."""
    from gofast_spark.dedup import dedup_near_duplicates

    d = _docs(spark, sf_dir)
    return dedup_near_duplicates(d, "doc_id", "text", threshold=0.8).select(
        "doc_id"
    )


# --- repetition quality signals + PII redaction ---------------------------


@query(
    "repetition_signals_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM norm),
    grams AS (
      SELECT doc_id, t, tk,
        list_transform(range(1, len(tk)), i -> tk[i] || '|' || tk[i+1]) AS g2,
        list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || '|' || tk[i+1] || '|' || tk[i+2]) AS g3
      FROM toks),
    g2x AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest(g2) AS g FROM grams) GROUP BY doc_id, g),
    top2 AS (SELECT doc_id, max(c * length(g)) AS best FROM g2x GROUP BY doc_id)
    SELECT g.doc_id,
      CAST(round((len(tk) - len(list_distinct(tk))) * 1.0 / len(tk), 6)
           AS DOUBLE) AS dup_word_frac,
      CAST(round(CASE WHEN len(g2) = 0 THEN 0.0
           ELSE (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2) END, 6)
           AS DOUBLE) AS dup_2gram_frac,
      CAST(round(CASE WHEN len(g3) = 0 THEN 0.0
           ELSE (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3) END, 6)
           AS DOUBLE) AS dup_3gram_frac,
      CAST(round(CASE WHEN coalesce(t2.best, 0) = 0 OR length(t) = 0 THEN 0.0
           ELSE t2.best * 1.0 / length(t) END, 6)
           AS DOUBLE) AS top_2gram_char_frac
    FROM grams g LEFT JOIN top2 t2 ON t2.doc_id = g.doc_id
    """,
)
def repetition_signals_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup unigram/2-gram/3-gram
    fractions + top-2-gram char fraction), computed row-locally with no
    shuffle (text/repetition.py).  The oracle rebuilds the same n-grams
    relationally (unnest + groupBy) — two independent plans, one answer."""
    from gofast_spark.text import repetition_signals

    d = _docs(spark, sf_dir)
    out = repetition_signals(d, "text")
    return out.select(
        "doc_id",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
    )


def _pii_input_sql() -> str:
    """Deterministic PII-bearing text built from customer columns — the
    documents corpus contains no PII-shaped strings, so the entry
    synthesizes identical inputs on both engines and diffs the
    redactions."""
    return (
        "'user ' || c_name || ' mail ' || lower(replace(c_name, ' ', '.')) "
        "|| '@example.com ip 10.' || CAST(c_custkey % 256 AS STRING) "
        "|| '.' || CAST(c_nationkey % 256 AS STRING) || '.1 id ' "
        "|| lpad(CAST(c_custkey % 1000 AS STRING), 3, '0') || '-' "
        "|| lpad(CAST(c_custkey % 100 AS STRING), 2, '0') || '-' "
        "|| lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')"
    )


def _pii_oracle_sql() -> str:
    from gofast_spark.text.pii import PII_PATTERNS, pii_oracle_sql

    inp = _pii_input_sql()
    # staged counts: count each class on the text with earlier classes
    # already redacted (mirrors text.pii.pii_profile)
    stages, cur = [], inp
    for name, pat, rep in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        stages.append(
            f"len(regexp_extract_all({cur}, '{sql_pat}')) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{sql_pat}', '{rep}', 'g')"
    return f"""
    SELECT c_custkey,
           {pii_oracle_sql(inp)} AS redacted,
           {", ".join(stages)}
    FROM customer
    """


@query("pii_redact_contacts", oracle=_pii_oracle_sql())
def pii_redact_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: synthesize a contact string per customer (email +
    IP + SSN-shaped id), scrub it with the portable regex chain
    (text/pii.py), and return the redacted text plus staged per-class
    counts.  DuckDB applies the same patterns through RE2 — the entry
    proves the patterns are engine-portable and the staging order
    deterministic."""
    from gofast_spark.text import pii_profile, redact_pii_col

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.expr(_pii_input_sql()).alias("contact"),
    )
    prof = pii_profile(base, "contact")
    return prof.select(
        "c_custkey",
        redact_pii_col("contact").alias("redacted"),
        F.col("n_email").alias("n_email"),
        F.col("n_ssn").alias("n_ssn"),
        F.col("n_ipv4").alias("n_ipv4"),
        F.col("n_phone").alias("n_phone"),
    )


# --- product-quantization ANN ---------------------------------------------

def _pq_oracle() -> str:
    from gofast_spark.sim.pq import sq_dist_terms

    code_aggs = ", ".join(
        f"(min(struct_pack(d := round("
        f"{sq_dist_terms('e.embedding', 'cb.cv', m * 16, 16, indexer='duckdb')}"
        f", 6), c := cb.cell))).c AS code_{m}"
        for m in range(4)
    )
    lut_cols = ", ".join(
        f"round({sq_dist_terms('q.embedding', 'cb.cv', m * 16, 16, indexer='duckdb')}, 6) AS pd_{m}"
        for m in range(4)
    )
    return f"""
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS INTEGER) - 1 AS cell,
             embedding AS cv
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) <= 8),
    codes AS (
      SELECT e.vec_id, {code_aggs}
      FROM embeddings e, cb GROUP BY e.vec_id),
    lut AS (
      SELECT q.vec_id AS query_id, cb.cell, {lut_cols}
      FROM embeddings q, cb WHERE q.vec_id < 5),
    scored AS (
      SELECT l0.query_id, c.vec_id,
             l0.pd_0 + l1.pd_1 + l2.pd_2 + l3.pd_3 AS adc_dist
      FROM codes c
      JOIN lut l0 ON l0.cell = c.code_0
      JOIN lut l1 ON l1.query_id = l0.query_id AND l1.cell = c.code_1
      JOIN lut l2 ON l2.query_id = l0.query_id AND l2.cell = c.code_2
      JOIN lut l3 ON l3.query_id = l0.query_id AND l3.cell = c.code_3
      WHERE c.vec_id <> l0.query_id)
    SELECT query_id, vec_id,
           CAST(round(adc_dist, 4) AS DOUBLE) AS adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(adc_dist, 6), vec_id) AS INTEGER) AS rank
    FROM scored QUALIFY rank <= 5
    """


@query("pq_adc_topk_embeddings", oracle=_pq_oracle())
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jegou et al. 2011): landmark
    codebooks (8 lowest-hash corpus vectors, zero training iterations),
    4x16-dim subspace codes in one groupBy of struct-argmins, broadcast
    per-query lookup tables, fixed-order ADC sums — every arithmetic
    step emitted as the same expression text on both engines, so the
    oracle verifies codes, LUTs, and ranks bit-for-bit (sim/pq.py)."""
    from gofast_spark.sim import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    out = pq_topk(
        e, q, "vec_id", "embedding",
        n_subspaces=4, n_centroids=8, dim=64, k=5,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_dist", 4).cast("double").alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


@query(
    "corpus_filter_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM norm),
    grams AS (
      SELECT doc_id, t, tk,
        list_transform(range(1, len(tk)), i -> tk[i] || '|' || tk[i+1]) AS g2,
        list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || '|' || tk[i+1] || '|' || tk[i+2]) AS g3
      FROM toks),
    g2x AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest(g2) AS g FROM grams) GROUP BY doc_id, g),
    top2 AS (SELECT doc_id, max(c * length(g)) AS best FROM g2x GROUP BY doc_id),
    sig AS (
      SELECT g.doc_id,
        len(tk) AS n_tok,
        CASE WHEN len(g3) = 0 THEN 0.0
             ELSE (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3) END AS d3,
        CASE WHEN coalesce(t2.best, 0) = 0 OR length(t) = 0 THEN 0.0
             ELSE t2.best * 1.0 / length(t) END AS top2,
        len(list_filter(tk, x -> list_contains({_STOP}, x))) * 1.0
          / len(tk) AS stop_ratio,
        len(list_distinct(tk)) * 1.0 / len(tk) AS uniq_ratio
      FROM grams g LEFT JOIN top2 t2 ON t2.doc_id = g.doc_id)
    SELECT doc_id,
      (n_tok >= 5 AND n_tok <= 100000 AND d3 <= 0.5 AND top2 <= 0.6
       AND stop_ratio >= 0.05 AND uniq_ratio >= 0.2) AS keep,
      CASE WHEN NOT n_tok >= 5 THEN 'min_tokens'
           WHEN NOT n_tok <= 100000 THEN 'max_tokens'
           WHEN NOT d3 <= 0.5 THEN 'max_dup_3gram_frac'
           WHEN NOT top2 <= 0.6 THEN 'max_top_2gram_char_frac'
           WHEN NOT stop_ratio >= 0.05 THEN 'min_stopword_ratio'
           WHEN NOT uniq_ratio >= 0.2 THEN 'min_unique_ratio'
           ELSE NULL END AS reason
    FROM sig
    """,
)
def corpus_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite keep/drop pass with first-failure
    attribution (text/corpus_filter.py) — one shuffle-free projection
    composing token bounds, repetition caps, stopword/diversity floors.
    The oracle recomputes every signal relationally and replays the same
    rule order."""
    from gofast_spark.text import corpus_filter

    d = _docs(spark, sf_dir)
    return corpus_filter(d, "text").select("doc_id", "keep", "reason")


@query(
    "token_shards_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
            FROM norm),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
    SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
           CAST(floor((cum - n_tokens) / 2000.0) AS INT) AS shard
    FROM c
    """,
)
def token_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding via the two-phase distributed prefix sum
    (operators/prefix.py): running token totals in doc_id order WITHOUT
    a single-reducer global window — range repartition, partition-local
    scans, broadcast offsets.  The oracle computes the same running sum
    with an ordinary (single-node) window, proving the parallel scan
    exact."""
    from gofast_spark.operators import token_budget_shards
    from gofast_spark.text.analysis import normalize_text

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " ")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    out = token_budget_shards(
        tok, "doc_id", "n_tokens", budget=2000, cumsum_col="cum_tokens"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("shard").cast("int").alias("shard"),
    )


@query(
    "semantic_dedup_embeddings",
    oracle=f"""
    WITH lm AS (
      SELECT vec_id AS lid, embedding AS lv,
             CAST(row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS INTEGER) - 1 AS cell
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) <= 16),
    ac AS (
      SELECT e.vec_id, e.embedding, l.cell,
             {_IVF_COS.format(a='e.embedding', b='l.lv')} AS cs
      FROM embeddings e, lm l),
    cells AS (
      SELECT vec_id, embedding, cell, round(cs, 6) AS cent_sim FROM ac
      QUALIFY row_number() OVER (PARTITION BY vec_id
              ORDER BY round(cs, 6) DESC, cell) = 1),
    cl AS (
      SELECT vec_id, cell, cent_sim, embedding,
             {_NORM64.format(v='embedding')} AS l2
      FROM cells),
    cn AS (
      SELECT vec_id, cell, cent_sim,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / l2) AS nv
      FROM cl),
    dup AS (
      SELECT DISTINCT a.vec_id
      FROM cn a JOIN cn b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
      WHERE list_sum(list_transform(range(1, 65),
                     i -> (a.nv)[i] * (b.nv)[i])) >= 0.3
        AND (b.cent_sim < a.cent_sim
             OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CAST(round(c.cent_sim, 4) AS DOUBLE) AS cent_sim,
           CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS is_dup
    FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup labels (dedup/semantic.py, Abbas et al.
    2023): landmark cells (16 lowest-hash corpus vectors, zero Lloyd
    iterations — fully relational), within-cell cosine pairs from a cell
    equi-join (never all-pairs, cost sum(cell^2)), keep-farthest-from-
    centroid dominance prune over PRE-NORMALIZED vectors (one dot fold
    per pair).  The oracle replays cells, normalization, pairs, and the
    dominance rule in plain SQL, verifying the path bit-for-bit."""
    from gofast_spark.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        e, "vec_id", "embedding", threshold=0.3, nlist=16, keep="farthest"
    )
    return out.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round(F.round("cent_sim", 6), 4).cast("double").alias("cent_sim"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


@query(
    "contamination_check_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, '|')]
             ELSE list_transform(range(1, len(tk) - 1),
                  i -> tk[i] || '|' || tk[i+1] || '|' || tk[i+2]) END)) AS s
      FROM toks),
    shh AS (SELECT DISTINCT doc_id, {md5_hash64_sql('s')} % 2147483648 AS h FROM sh),
    ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, h FROM shh WHERE doc_id % 50 <> 0),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
    hit AS (SELECT c.doc_id, count(*) AS n_hit
            FROM corpus c JOIN ev ON c.h = ev.h GROUP BY c.doc_id)
    SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / t.n_grams, 6) AS contamination_frac,
           CAST(CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS is_contaminated
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
)
def contamination_check_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (text/contamination.py, GPT-3 appendix-C
    n-gram rule): every 50th doc plays the held-out eval benchmark; the
    remaining corpus docs are flagged when they share any normalized
    3-gram with it.  Plan: row-local distinct shingles on both sides, the
    tiny distinct eval-gram frame broadcast into one hash join.  The
    oracle rebuilds grams, the eval slice, and the hit aggregation
    relationally."""
    from gofast_spark.text.contamination import contamination_check

    d = _docs(spark, sf_dir)
    ev = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    out = contamination_check(corpus, ev, "doc_id", "text", k=3)
    return out.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.col("contamination_frac").cast("double").alias("contamination_frac"),
        "is_contaminated",
    )


@query(
    "pack_sequences_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
            FROM norm),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok),
    d AS (SELECT doc_id, n_tokens, cum - n_tokens AS strt FROM c
          WHERE n_tokens > 0),
    s AS (SELECT doc_id, strt, n_tokens,
                 unnest(range(CAST(floor(strt / 512.0) AS BIGINT),
                              CAST(floor((strt + n_tokens - 1) / 512.0) AS BIGINT) + 1))
                 AS seq_id
          FROM d)
    SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(strt, seq_id * 512) - seq_id * 512 AS BIGINT)
             AS span_begin,
           CAST(least(strt + n_tokens, (seq_id + 1) * 512)
                - greatest(strt, seq_id * 512) AS BIGINT) AS span_tokens
    FROM s
    """,
)
def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py): the
    corpus token stream in doc_id order cut into 512-token training
    sequences, one row per (doc, sequence) span with in-sequence
    offsets.  Offsets come from the two-phase distributed prefix sum —
    no single-reducer window; the oracle recomputes the same layout with
    an ordinary window cumsum, proving the parallel scan and the span
    arithmetic exact."""
    from gofast_spark.operators import pack_sequences
    from gofast_spark.text.analysis import normalize_text

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " ")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    return pack_sequences(tok, "doc_id", "n_tokens", seq_len=512)


def _mixture_oracle() -> str:
    from gofast_spark.operators import uniform_hash_sql

    u = uniform_hash_sql("d.doc_id", seed=42)
    return f"""
    WITH r(lang, rate) AS (VALUES
        ('en', 0.5), ('de', 2.0), ('es', 1.25), ('fr', 1.0)),
    j AS (
      SELECT d.doc_id, d.lang, coalesce(r.rate, 0.75) AS rate, {u} AS u
      FROM documents d LEFT JOIN r ON d.lang = r.lang),
    n AS (
      SELECT doc_id, lang,
             CAST(floor(rate) + CASE WHEN u < rate - floor(rate)
                  THEN 1 ELSE 0 END AS BIGINT) AS n
      FROM j)
    SELECT doc_id, lang, CAST(unnest(range(n)) AS INTEGER) AS epoch
    FROM n WHERE n > 0
    """


@query("mixture_sample_documents", oracle=_mixture_oracle())
def mixture_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (operators/mixture.py, GPT-3-style
    weighted source mixing): per-language rates (en down-sampled 0.5x,
    de repeated 2.0x across epochs, es 1.25x, fr kept, default 0.75x),
    decided row-independently by an engine-portable md5 uniform — the
    oracle replays join, u, copy count, and epoch fan-out exactly."""
    from gofast_spark.operators import mixture_sample

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d.select("doc_id", "lang"),
        "lang",
        {"en": 0.5, "de": 2.0, "es": 1.25, "fr": 1.0},
        "doc_id",
        seed=42,
        default_rate=0.75,
    )
    return out.select("doc_id", "lang", F.col("epoch").cast("int"))


_CLF_W = {
    "spark": 12.0, "query": 9.0, "fast": 6.0, "vector": 5.0,
    "slow": -10.0, "the": -4.0, "a": -3.0, "table": -2.0,
}
_CLF_BIAS = -0.25


@query(
    "quality_classifier_documents",
    oracle=f"""
    WITH w(token, weight) AS (VALUES
        {", ".join(f"('{t}', {v})" for t, v in _CLF_W.items())}),
    norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    base AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT)
                    AS n_tokens FROM norm),
    tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM norm),
    cnt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    dotv AS (SELECT c.doc_id, sum(c.c * w.weight) AS dot_raw
             FROM cnt c JOIN w ON c.token = w.token GROUP BY 1),
    s AS (SELECT b.doc_id, b.n_tokens,
                 CASE WHEN b.n_tokens > 0
                      THEN coalesce(d.dot_raw, 0) / b.n_tokens
                      ELSE 0.0 END AS dot
          FROM base b LEFT JOIN dotv d ON b.doc_id = d.doc_id)
    SELECT doc_id, n_tokens, round(dot, 6) AS dot,
           round(1.0 / (1.0 + exp(-(dot + {_CLF_BIAS}))), 4) AS score
    FROM s
    """,
)
def quality_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (text/classifier.py, fastText /
    CCNet deploy path): a broadcast vocabulary->weight table joined
    against exploded token counts, one per-doc sum, codegen'd sigmoid —
    no UDFs.  The oracle replays tokenization, the sparse dot product,
    and the sigmoid relationally."""
    from gofast_spark.text import linear_text_scores

    d = _docs(spark, sf_dir)
    out = linear_text_scores(
        d, "doc_id", "text", _CLF_W, bias=_CLF_BIAS, normalize="tf"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("dot", 6).cast("double").alias("dot"),
        F.round("score", 4).cast("double").alias("score"),
    )


# ---------------------------------------------------------------------------
# Incremental (cross-corpus) dedup: a new batch against a reference
# corpus (dedup/incremental.py) — candidate generation is a band-key
# equi-join of the two corpora, never a self-join of the union
# ---------------------------------------------------------------------------

# the new batch = doc_id % 4 == 0; reference corpus = the rest
_XBANDS = f"""
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, mh_{2*b} * 2147483648 + mh_{2*b+1} AS band_key FROM sig"
          for b in range(8)
      )}
    ),
    bn AS (SELECT doc_id AS new_id, band_idx, band_key FROM bands
           WHERE doc_id % 4 = 0),
    br AS (SELECT doc_id AS ref_id, band_idx, band_key FROM bands
           WHERE doc_id % 4 <> 0),
    cand AS (SELECT DISTINCT new_id, ref_id
             FROM bn JOIN br USING (band_idx, band_key)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.ref_id, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.new_id
      JOIN shh y ON y.doc_id = c.ref_id AND y.h = x.h
      GROUP BY c.new_id, c.ref_id),
    matched AS (
      SELECT i.new_id, i.ref_id,
             i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) AS j
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.new_id
      JOIN sizes sb ON sb.doc_id = i.ref_id
      WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8)
"""


@query(
    "incremental_dedup_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    {_XBANDS}
    SELECT new_id, ref_id, CAST(round(j, 4) AS DOUBLE) AS jaccard
    FROM matched
    """,
)
def incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup pairs: a new batch (doc_id % 4 == 0)
    LSH-matched against the reference corpus (the rest) without ever
    self-joining the reference — the append-time dedup step of a
    growing training corpus (dedup/incremental.py)."""
    from gofast_spark.dedup.incremental import near_dup_pairs_between

    d = _docs(spark, sf_dir).select("doc_id", "text")
    new = d.where(F.col("doc_id") % 4 == 0)
    ref = d.where(F.col("doc_id") % 4 != 0)
    out = near_dup_pairs_between(new, ref, "doc_id", "text", threshold=0.8)
    return out.select(
        "new_id",
        "ref_id",
        F.round("jaccard", 4).cast("double").alias("jaccard"),
    )


@query(
    "incremental_dedup_survivors",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    {_XBANDS}
    SELECT doc_id FROM documents
    WHERE doc_id % 4 = 0
      AND doc_id NOT IN (SELECT new_id FROM matched)
    """,
)
def incremental_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The new-batch rows safe to append: everything not near-dup
    matched against the reference corpus (one anti-join on the matched
    id set)."""
    from gofast_spark.dedup.incremental import dedup_against

    d = _docs(spark, sf_dir).select("doc_id", "text")
    new = d.where(F.col("doc_id") % 4 == 0)
    ref = d.where(F.col("doc_id") % 4 != 0)
    return dedup_against(new, ref, "doc_id", "text", threshold=0.8).select(
        "doc_id"
    )


@query(
    "leakage_safe_split_counts",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    clusters AS (SELECT id, min(lab) AS cluster_id FROM comp GROUP BY id),
    keyed AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS gkey
      FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id)
    SELECT CASE WHEN ((gkey + 0) * 1103515245 + 12345)
                     % 2147483648 % 100 < 20
                THEN 'test' ELSE 'train' END AS split,
           count(*) AS n_docs
    FROM keyed GROUP BY split
    """,
)
def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-free train/test split (dedup/cluster.py
    leakage_safe_split): the split hash keys on the duplicate-CLUSTER
    id, so a test doc can never have a near-copy in train.  The oracle
    rebuilds pairs -> transitive closure -> cluster-keyed LCG split
    relationally; group purity (no cluster spanning splits) is
    unit-tested structurally."""
    from gofast_spark.dedup.cluster import leakage_safe_split

    d = _docs(spark, sf_dir).select("doc_id", "text")
    train, test = leakage_safe_split(
        d, "doc_id", "text", test_ratio=0.2, seed=0, threshold=0.8
    )
    return train.select(F.lit("train").alias("split")).union(
        test.select(F.lit("test").alias("split"))
    ).groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "char_entropy_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    ch AS (
      SELECT doc_id, CAST(length(t) AS INT) AS n,
             list_transform(range(1, length(t) + 1),
                            i -> substr(t, i, 1)) AS chars
      FROM norm),
    cnts AS (
      SELECT doc_id, n,
             list_transform(list_distinct(chars),
                            c -> len(list_filter(chars, x -> x = c))) AS ks
      FROM ch)
    SELECT doc_id, n AS n_chars,
           CAST(round(CASE WHEN n = 0 THEN 0.0 ELSE
             (ln(n) - (list_sum(list_transform(ks,
                 k -> CAST(round(k * ln(k) * 1000000) AS BIGINT))) / 1e6) / n)
             / 0.6931471805599453 END, 6) AS DOUBLE) AS entropy
    FROM cnts
    """,
)
def char_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (text/entropy.py): bits/char of
    the normalized character distribution, flagging low-entropy
    boilerplate.  Row-local count arrays over the <= 37-symbol
    normalized alphabet — a pure projection, vs the explode +
    per-(doc, char) groupBy alternative whose shuffle carries one row
    per character occurrence.  Inner entropy terms are micro-quantized
    integers, so the fold is order-independent across engines."""
    from gofast_spark.text.entropy import char_entropy_frame

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = char_entropy_frame(d, "text", id_cols=["doc_id"])
    return out.select(
        "doc_id",
        "n_chars",
        F.round("entropy", 6).cast("double").alias("entropy"),
    )


# --- masked-LM / span-corruption training-pair generation -----------------

# the DuckDB mirror of text/masking._pos_uniform_sql (seed spliced in)
def _duck_u(seed: int, pos_expr: str) -> str:
    return (
        f"((CAST('0x' || substr(md5('{seed}|' || CAST(doc_id AS VARCHAR)"
        f" || '|' || CAST({pos_expr} AS VARCHAR)), 1, 15) AS BIGINT))"
        f" % 2147483648) / CAST(2147483648 AS DOUBLE)"
    )


@query(
    "mlm_mask_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tk AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    fl AS (
      SELECT doc_id, tk,
             list_transform(range(1, len(tk) + 1),
                            i -> {_duck_u(42, 'i - 1')} < 0.15) AS fl
      FROM tk)
    SELECT doc_id, masked_text, coalesce(targets_raw, '') AS targets,
           n_tokens, n_masked
    FROM (
    SELECT doc_id,
           array_to_string(list_transform(range(1, len(tk) + 1),
             i -> CASE WHEN fl[i] THEN '[MASK]' ELSE tk[i] END), ' ')
             AS masked_text,
           array_to_string(list_filter(list_transform(range(1, len(tk) + 1),
             i -> CASE WHEN fl[i]
                  THEN CAST(i - 1 AS VARCHAR) || ':' || tk[i] END),
             x -> x IS NOT NULL), ' ') AS targets_raw,
           CAST(len(tk) AS INT) AS n_tokens,
           CAST(len(list_filter(fl, x -> x)) AS INT) AS n_masked
    FROM fl)
    """,
)
def mlm_mask_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style masked-LM pair generation (text/masking.py): each
    token masks at 15% via the portable per-(id, position) uniform, so
    the corruption is reproducible across engines and repartitions.
    Pure projection — no shuffle, no UDF; every masked position and
    target token is hash-verified."""
    from gofast_spark.text.masking import mlm_token_mask

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return mlm_token_mask(d, mask_rate=0.15, seed=42)


@query(
    "span_corruption_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (
      SELECT doc_id, i - 1 AS pos, tk[i] AS tok
      FROM (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
           unnest(range(1, len(tk) + 1)) AS u(i)),
    fl AS (
      SELECT doc_id, pos, tok, {_duck_u(42, 'pos')} < 0.15 AS f
      FROM tok),
    nw0 AS (
      SELECT doc_id, pos, tok, f,
             f AND NOT coalesce(
               lag(f) OVER (PARTITION BY doc_id ORDER BY pos), false) AS nw
      FROM fl),
    sp AS (
      SELECT doc_id, pos, tok, f, nw,
             sum(CASE WHEN nw THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS span
      FROM nw0),
    inp AS (
      SELECT doc_id,
             string_agg(CASE WHEN nw
                        THEN '<extra_id_' || CAST(span AS VARCHAR) || '>'
                        ELSE tok END, ' ' ORDER BY pos) AS inputs
      FROM sp WHERE NOT f OR nw GROUP BY doc_id),
    tgt AS (
      SELECT doc_id,
             string_agg(CASE WHEN nw
                        THEN '<extra_id_' || CAST(span AS VARCHAR)
                             || '> ' || tok
                        ELSE tok END, ' ' ORDER BY pos) AS targets,
             CAST(max(span) + 1 AS INT) AS n_spans
      FROM sp WHERE f GROUP BY doc_id)
    SELECT i.doc_id, i.inputs,
           coalesce(t.targets, '') AS targets,
           coalesce(t.n_spans, 0) AS n_spans
    FROM inp i LEFT JOIN tgt t ON t.doc_id = i.doc_id
    """,
)
def span_corruption_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (text/masking.py): adjacent masked
    tokens merge into numbered sentinel spans; inputs/targets rebuilt
    with per-doc ordered aggregation.  Every window partitions by doc
    id — parallel at any corpus size."""
    from gofast_spark.text.masking import span_corruption

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return span_corruption(d, mask_rate=0.15, seed=42)


# --- BPE merge learning ----------------------------------------------------

def _bpe_oracle(n_merges: int) -> str:
    """Unrolled BPE rounds in DuckDB: pair counts -> lexicographic-tied
    argmax -> greedy merge fold per round, the same state-machine as
    text/bpe.py's aggregate fold (acc string-encoded as 'out/prev';
    '/' is outside the normalized alphabet)."""
    dec = (
        "CASE WHEN split_part(acc, '/', 2) = '' THEN split_part(acc, '/', 1) "
        "WHEN split_part(acc, '/', 1) = '' THEN split_part(acc, '/', 2) "
        "ELSE split_part(acc, '/', 1) || ' ' || split_part(acc, '/', 2) END"
    )
    parts = [
        f"norm AS (SELECT {_norm_sql('text')} AS t FROM documents)",
        "wf AS (SELECT word, count(*) AS freq FROM ("
        "SELECT unnest(string_split(t, ' ')) AS word FROM norm) "
        "WHERE word <> '' GROUP BY word)",
        "v0 AS (SELECT word, freq, "
        "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym FROM wf)",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"p{r} AS (SELECT pair, sum(freq) AS cnt FROM ("
            f"SELECT freq, unnest(CASE WHEN len(string_split(sym, ' ')) < 2 "
            f"THEN CAST([] AS VARCHAR[]) "
            f"ELSE list_transform(range(1, len(string_split(sym, ' '))), "
            f"i -> string_split(sym, ' ')[i] || ' ' || "
            f"string_split(sym, ' ')[i + 1]) END) AS pair "
            f"FROM v{r - 1}) GROUP BY pair)"
        )
        parts.append(
            f"b{r} AS (SELECT pair, cnt FROM p{r} "
            f"ORDER BY cnt DESC, pair LIMIT 1)"
        )
        lam = (
            "(acc, x) -> CASE "
            "WHEN split_part(acc, '/', 2) = '' "
            "THEN split_part(acc, '/', 1) || '/' || x "
            "WHEN split_part(acc, '/', 2) = split_part(b.pair, ' ', 1) "
            "AND x = split_part(b.pair, ' ', 2) "
            "THEN split_part(acc, '/', 1) || '/' || "
            "(split_part(acc, '/', 2) || x) "
            "ELSE (CASE WHEN split_part(acc, '/', 1) = '' "
            "THEN split_part(acc, '/', 2) "
            "ELSE split_part(acc, '/', 1) || ' ' || "
            "split_part(acc, '/', 2) END) || '/' || x END"
        )
        parts.append(
            f"a{r} AS (SELECT v.word, v.freq, "
            f"list_reduce(['/'] || string_split(v.sym, ' '), {lam}) AS acc "
            f"FROM v{r - 1} v CROSS JOIN b{r} b)"
        )
        parts.append(
            f"v{r} AS (SELECT word, freq, {dec} AS sym FROM a{r})"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS rank, pair, CAST(cnt AS BIGINT) AS freq "
        f"FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


@query("bpe_merges_documents", oracle=_bpe_oracle(4))
def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich et al. 2016;
    text/bpe.py): 4 merge rounds over the corpus word-frequency table.
    Each round is one pair-count aggregate plus a 1-row argmax that
    stays INSIDE the plan (crossJoin-broadcast into a row-local greedy
    merge fold — no driver collect).  The oracle unrolls the identical
    4 rounds, replaying the merge fold via list_reduce with
    string-encoded state."""
    from gofast_spark.text.bpe import bpe_learn_merges

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return bpe_learn_merges(d, "text", num_merges=4)


# --- end-to-end corpus build: filter -> dedup -> pack ---------------------

# the corpus-filter keep set with f-prefixed CTE names (the shared
# _SHINGLE/_PAIR CTEs own the bare norm/toks/sig names)
_FILTER_KEEP_CTES = f"""
    fnorm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    ftoks AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM fnorm),
    fgrams AS (
      SELECT doc_id, t, tk,
        list_transform(range(1, len(tk)), i -> tk[i] || '|' || tk[i+1]) AS g2,
        list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || '|' || tk[i+1] || '|' || tk[i+2]) AS g3
      FROM ftoks),
    fg2x AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest(g2) AS g FROM fgrams) GROUP BY doc_id, g),
    ftop2 AS (SELECT doc_id, max(c * length(g)) AS best
              FROM fg2x GROUP BY doc_id),
    fsigs AS (
      SELECT g.doc_id,
        len(tk) AS n_tok,
        CASE WHEN len(g3) = 0 THEN 0.0
             ELSE (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3) END AS d3,
        CASE WHEN coalesce(t2.best, 0) = 0 OR length(t) = 0 THEN 0.0
             ELSE t2.best * 1.0 / length(t) END AS top2,
        len(list_filter(tk, x -> list_contains({_STOP}, x))) * 1.0
          / len(tk) AS stop_ratio,
        len(list_distinct(tk)) * 1.0 / len(tk) AS uniq_ratio
      FROM fgrams g LEFT JOIN ftop2 t2 ON t2.doc_id = g.doc_id),
    fkeep AS (
      SELECT doc_id FROM fsigs
      WHERE n_tok >= 5 AND n_tok <= 100000 AND d3 <= 0.5 AND top2 <= 0.6
        AND stop_ratio >= 0.05 AND uniq_ratio >= 0.2),
    kept_docs AS (
      SELECT d.doc_id, d.text FROM documents d JOIN fkeep USING (doc_id))
"""


@query(
    "corpus_build_pipeline",
    oracle=f"""
    WITH RECURSIVE {_FILTER_KEEP_CTES},
    {_PAIR_CTES.replace("FROM documents", "FROM kept_docs")},
    clusters AS (SELECT id, min(lab) AS cluster_id FROM comp GROUP BY id),
    surv AS (
      SELECT k.doc_id FROM kept_docs k
      LEFT JOIN clusters c ON c.id = k.doc_id
      WHERE c.id IS NULL OR k.doc_id = c.cluster_id),
    ptok AS (
      SELECT n2.doc_id, CAST(len(string_split(n2.t, ' ')) AS BIGINT)
               AS n_tokens
      FROM norm n2 JOIN surv s ON s.doc_id = n2.doc_id),
    pc AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM ptok),
    pd AS (SELECT doc_id, n_tokens, cum - n_tokens AS strt FROM pc
           WHERE n_tokens > 0),
    ps AS (
      SELECT doc_id, strt, n_tokens,
             unnest(range(CAST(floor(strt / 512.0) AS BIGINT),
                          CAST(floor((strt + n_tokens - 1) / 512.0)
                               AS BIGINT) + 1)) AS seq_id
      FROM pd)
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(strt + n_tokens, (seq_id + 1) * 512)
                    - greatest(strt, seq_id * 512)) AS BIGINT) AS n_tokens
    FROM ps GROUP BY seq_id
    """,
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus build, one lazy plan: C4/Gopher
    composite quality filter -> MinHash-LSH near-dedup with hash-min
    connected components (keep the canonical member per cluster) ->
    concat-and-chunk packing into 512-token sequences, summarized per
    sequence.  Exactly the chain a real 100-TB pretraining-data build
    runs, every stage already individually oracle-verified — this entry
    verifies their COMPOSITION (filtered corpus feeds the pair graph,
    survivors feed the prefix-sum packing)."""
    return _minhash_build(spark, sf_dir, stage_sink=None)


def _minhash_build(
    spark: SparkSession, sf_dir: str, *, stage_sink: str | None = None
) -> DataFrame:
    """corpus_build_pipeline body with the stage layout as a knob
    (``session.pin``'s ``sink``): the entry runs the toy
    localCheckpoint layout; a production build passes a parquet
    path/table prefix and gets the replayable persisted layout —
    tests/test_corpus_build_plans.py exercises BOTH."""
    from gofast_spark.dedup import dedup_near_duplicates
    from gofast_spark.operators import pack_sequences
    from gofast_spark.text import corpus_filter
    from gofast_spark.text.analysis import normalize_text

    # tag-then-filter with stage pins (see
    # corpus_build_containment_survivors for the measured rationale:
    # an inlined `.where("keep")` re-derives the signal battery per
    # conjunct, and the single-split toy scan defeats _docs'
    # redistribution)
    d, _ = pin(
        _docs(spark, sf_dir),
        "corpus_build:raw",
        sink=None if stage_sink is None else f"{stage_sink}_raw",
    )
    tagged, _ = pin(
        corpus_filter(d, "text").select("doc_id", "text", "keep"),
        "corpus_build:tagged",
        sink=None if stage_sink is None else f"{stage_sink}_tagged",
    )
    kept = tagged.where("keep").select("doc_id", "text")
    surv = dedup_near_duplicates(kept, "doc_id", "text", threshold=0.8)
    tok = surv.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    spans = pack_sequences(tok, "doc_id", "n_tokens", seq_len=512)
    return spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("span_tokens").alias("n_tokens"),
    )


@query(
    "bpe_segment_documents",
    oracle=_bpe_oracle(4).replace(
        # keep the learning CTE chain, swap the final merge listing for
        # per-doc segmentation: after 4 merges the vocab state v4 IS the
        # word -> segmentation map, so each doc joins its tokens to it
        "SELECT CAST(1 AS INT) AS rank",
        """, dtok AS (
      SELECT doc_id, i AS pos, tk[i] AS word
      FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tk
            FROM documents),
           unnest(range(1, len(tk) + 1)) AS u(i)
      WHERE tk[i] <> '')
    SELECT d.doc_id,
           coalesce(string_agg(v.sym, ' | ' ORDER BY d.pos), '')
             AS segmented
    FROM (SELECT DISTINCT doc_id FROM documents) dd
    JOIN dtok d ON d.doc_id = dd.doc_id
    JOIN v4 v ON v.word = d.word
    GROUP BY d.doc_id
    -- original merge listing disabled:
    -- SELECT CAST(1 AS INT) AS rank""",
        1,
    ),
)
def bpe_segment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE inference: learn 4 merges (bounded 4-row collect — the same
    driver-loop budget as gradient descent's epochs), then replay them
    row-locally over every document (text/bpe.py bpe_segment — chained
    greedy folds, no shuffle).  The oracle segments through a DIFFERENT
    strategy: it joins doc tokens against the learned word->symbols
    vocab state, so the fold chain and the vocab replay must agree on
    every document."""
    from gofast_spark.text.bpe import bpe_learn_merges, bpe_segment

    d = _docs(spark, sf_dir).select("doc_id", "text")
    merges = [
        r["pair"]
        for r in bpe_learn_merges(d, "text", num_merges=4)
        .orderBy("rank")
        .collect()
    ]
    out = bpe_segment(d, "text", merges)
    return out.select("doc_id", "segmented").where(F.col("segmented") != "")


@query(
    "chunked_mlm_pairs_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tk AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    ch AS (
      SELECT doc_id, u.c AS chunk_idx,
             doc_id * 1000 + u.c AS cid,
             list_slice(tk, 32 * u.c + 1,
                        least(32 * u.c + 32, len(tk))) AS ctk
      FROM tk, unnest(range(0, CAST(floor((len(tk) - 1) / 32) AS BIGINT)
                               + 1)) AS u(c)),
    fl AS (
      SELECT doc_id, chunk_idx, ctk,
             list_transform(range(1, len(ctk) + 1),
               i -> ((CAST('0x' || substr(md5('42|' || CAST(cid AS VARCHAR)
                     || '|' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT))
                     % 2147483648) / CAST(2147483648 AS DOUBLE) < 0.15)
               AS fl
      FROM ch)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(list_transform(range(1, len(ctk) + 1),
             i -> CASE WHEN fl[i] THEN '[MASK]' ELSE ctk[i] END), ' ')
             AS masked_text,
           CAST(len(list_filter(fl, x -> x)) AS INT) AS n_masked
    FROM fl
    """,
)
def chunked_mlm_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real pretraining layout, composed: documents window into
    32-token chunks (text/chunking.py) and each chunk masks
    independently (text/masking.py) under a composite chunk id — the
    chunk fan-out and the per-position coin flips verified together.
    Both stages are row-local projections; the only wide op is the
    chunk posexplode."""
    from gofast_spark.text.chunking import chunk_documents
    from gofast_spark.text.masking import mlm_token_mask

    d = _docs(spark, sf_dir).select("doc_id", "text")
    ch = chunk_documents(
        d, chunk_tokens=32, overlap=0
    ).withColumn("cid", F.col("doc_id") * 1000 + F.col("chunk_idx"))
    out = mlm_token_mask(
        ch, id_col="cid", text_col="chunk_text", mask_rate=0.15, seed=42
    )
    return out.select(
        F.floor(F.col("cid") / 1000).cast("bigint").alias("doc_id"),
        F.pmod(F.col("cid"), F.lit(1000)).cast("int").alias("chunk_idx"),
        "masked_text",
        F.col("n_masked").cast("int").alias("n_masked"),
    )


@query(
    "lsh_plan_curve",
    oracle="""
    SELECT CAST(round((i + 1) / 20.0, 6) AS DOUBLE) AS s,
           CAST(round(1.0 - pow(1.0 - pow((i + 1) / 20.0, 2), 8), 6)
             AS DOUBLE) AS p_candidate,
           CAST(round(pow(1.0 / 8, 1.0 / 2), 6) AS DOUBLE) AS threshold_est
    FROM range(19) r(i)
    """,
)
def lsh_plan_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-scheme planner (dedup/minhash.py lsh_collision_curve):
    the 1-(1-s^r)^b candidate-probability curve and threshold estimate
    for the default 16-hash / 2-rows-per-band scheme — the arithmetic a
    user runs to pick (b, r) before committing a corpus-scale dedup
    (Broder 1997; MMDS ch. 3)."""
    from gofast_spark.dedup.minhash import lsh_collision_curve

    return lsh_collision_curve(
        spark, num_hashes=16, rows_per_band=2, steps=19
    )


@query(
    "shuffled_token_shards_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (SELECT doc_id,
                   CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
                   {md5_hash64_sql("CAST(doc_id AS VARCHAR)")} AS shuf
            FROM norm),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY shuf, doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 1500.0) AS INT) AS shard
    FROM c
    """,
)
def shuffled_token_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically SHUFFLED token-budget shards
    (operators/packing.py shuffled_token_shards): the corpus is
    globally reordered by a portable md5 key of the doc id before
    budget binning, so every shard mixes the corpus instead of
    preserving ingest order — the pre-training contract.  The running
    sum rides the two-phase distributed prefix scan; the oracle replays
    it with an ordinary window over the same md5 ordering."""
    from gofast_spark.operators import shuffled_token_shards
    from gofast_spark.text.analysis import normalize_text

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " ")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    out = shuffled_token_shards(tok, "doc_id", "n_tokens", budget=1500)
    return out.select(
        "doc_id", "n_tokens", F.col("shard").cast("int").alias("shard")
    )


@query(
    "bigram_pmi_documents",
    oracle=f"""
    WITH norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    tk AS (SELECT string_split(t, ' ') AS tk FROM norm WHERE len(t) > 0),
    tot AS (SELECT sum(len(tk)) AS n_tokens, sum(len(tk) - 1) AS m_pairs
            FROM tk),
    pairs AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS n_pair
      FROM tk, unnest(range(1, len(tk))) AS u(i)
      GROUP BY 1, 2),
    uni AS (
      SELECT tk[i] AS w, count(*) AS n_w
      FROM tk, unnest(range(1, len(tk) + 1)) AS u(i)
      GROUP BY 1)
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(round(ln((CAST(n_pair AS DOUBLE) * n_tokens * n_tokens)
                         / (CAST(m_pairs AS DOUBLE) * u1.n_w * u2.n_w)), 6)
             AS DOUBLE) AS pmi
    FROM pairs
    JOIN uni u1 ON u1.w = pairs.w1
    JOIN uni u2 ON u2.w = pairs.w2
    CROSS JOIN tot
    WHERE n_pair >= 5
    ORDER BY pmi DESC, n_pair DESC, w1, w2
    LIMIT 50
    """,
)
def bigram_pmi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent token pairs by PMI
    (text/cooccur.py; Church & Hanks 1990, the word2vec phrase-pass
    score).  Vocab-sized count tables, one corpus aggregate for both
    totals, unigram joins AQE broadcasts at runtime, TakeOrderedAndProject
    on the rounded score."""
    from gofast_spark.text.cooccur import bigram_pmi

    return bigram_pmi(_docs(spark, sf_dir), "text", min_count=5, top_k=50)


_URL_TRK = "(utm_[a-z]+|fbclid|gclid)=[^&#]*"


@query(
    "url_dedup_documents",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 20) ||
                 '.com/Page' || (doc_id % 50) || '?utm_source=x&id=' ||
                 (doc_id % 7)
               WHEN 1 THEN 'http://site' || (doc_id % 20) || '.com/Page' ||
                 (doc_id % 50) || '?id=' || (doc_id % 7) ||
                 '&utm_campaign=y#frag'
               ELSE 'https://site' || (doc_id % 20) || '.com/page' ||
                 (doc_id % 50) || '/'
             END AS url
      FROM documents),
    norm AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(trim(url)),
          '^https?://', '', 'g'),
          '^www\\.', '', 'g'),
          '#.*$', '', 'g'),
          '&{_URL_TRK}', '', 'g'),
          '\\?{_URL_TRK}&', '?', 'g'),
          '\\?{_URL_TRK}$', '', 'g'),
          '[?&]+$', '', 'g'),
          '/$', '', 'g') AS u
      FROM raw)
    SELECT u AS url, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc
    FROM norm GROUP BY u HAVING count(*) > 1
    """,
)
def url_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-key dedup, the C4/CCNet first pass (text/columns.py
    normalize_url): deterministic messy URLs (scheme/case/www/tracking
    params/fragments/trailing slashes all varying) collapse to one
    canonical key; groups >1 report their min-id survivor.  Pure
    codegen regex chain + one groupBy — the oracle replays the chain
    with DuckDB regexp_replace('g')."""
    from gofast_spark.text.columns import normalize_url

    d = _docs(spark, sf_dir).select("doc_id")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 20),
                F.lit(".com/Page"), (F.col("doc_id") % 50),
                F.lit("?utm_source=x&id="), (F.col("doc_id") % 7),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://site"), (F.col("doc_id") % 20),
                F.lit(".com/Page"), (F.col("doc_id") % 50),
                F.lit("?id="), (F.col("doc_id") % 7),
                F.lit("&utm_campaign=y#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), (F.col("doc_id") % 20),
                F.lit(".com/page"), (F.col("doc_id") % 50), F.lit("/"),
            )
        )
    )
    normed = d.select("doc_id", normalize_url(url).alias("url"))
    return (
        normed.groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@query(
    "near_dup_best_survivors",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    clusters AS (SELECT id, min(lab) AS cluster_id FROM comp GROUP BY id),
    scored AS (
      SELECT c.cluster_id, c.id, d.n_chars
      FROM clusters c JOIN documents d ON d.doc_id = c.id),
    win AS (
      SELECT cluster_id, id FROM (
        SELECT cluster_id, id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, id) AS rn
        FROM scored) WHERE rn = 1)
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN clusters c ON c.id = d.doc_id
    LEFT JOIN win w ON w.cluster_id = c.cluster_id
    WHERE c.id IS NULL OR d.doc_id = w.id
    """,
)
def near_dup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted near-dedup (dedup/cluster.py keep_best): each
    duplicate cluster keeps its LONGEST member (n_chars score, min-id
    tiebreak) instead of the arbitrary min-id — the usual corpus
    curation rule.  Winner selection is two vocab-sized aggregates over
    the clustered population; the corpus side stays one gated-broadcast
    left join + filter.  Oracle: the recursive-CTE transitive closure
    plus a rank window replay."""
    from gofast_spark.dedup import keep_best, near_dup_clusters

    d = _docs(spark, sf_dir)
    clusters = near_dup_clusters(d, "doc_id", "text", threshold=0.8)
    return keep_best(d, clusters, "doc_id", "n_chars").select("doc_id")


@query(
    "corpus_report_documents",
    oracle=f"""
    WITH norm AS (
      SELECT source, lang, {_norm_sql('text')} AS t FROM documents),
    toks AS (
      SELECT source, lang, string_split(t, ' ') AS tk FROM norm),
    rowstats AS (
      SELECT source, lang,
             len(tk) AS n_tokens,
             CAST(trunc((len(list_distinct(tk)) * 1.0 / len(tk))
                        * 1000000.0 + 0.5) AS BIGINT) AS uniq_u6,
             CAST(trunc((len(list_filter(tk, x -> list_contains({_STOP}, x)))
                         * 1.0 / len(tk)) * 1000000.0 + 0.5) AS BIGINT)
               AS stop_u6
      FROM toks)
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           CAST(sum(n_tokens) / CAST(count(*) AS DOUBLE) AS DOUBLE)
             AS mean_tokens,
           CAST(sum(uniq_u6) / (count(*) * 1000000.0) AS DOUBLE)
             AS mean_unique_ratio,
           CAST(sum(stop_u6) / (count(*) * 1000000.0) AS DOUBLE)
             AS mean_stopword_ratio
    FROM rowstats GROUP BY source, lang
    """,
)
def corpus_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) dataset-card aggregates (text/analysis.py
    corpus_report): one row-local stats projection + one groupBy; ratio
    means ride integer micro-units so 1000-executor regrouping is
    bit-exact."""
    from gofast_spark.text.analysis import corpus_report

    d = _docs(spark, sf_dir)
    out = corpus_report(d, "text")
    return out.select(
        "source", "lang", "n_docs", "tok_sum",
        F.col("mean_tokens").cast("double").alias("mean_tokens"),
        F.col("mean_unique_ratio").cast("double").alias("mean_unique_ratio"),
        F.col("mean_stopword_ratio").cast("double").alias("mean_stopword_ratio"),
    )


@query(
    "source_overlap_documents",
    oracle=f"""
    WITH norm AS (SELECT source AS g, {_norm_sql('text')} AS t FROM documents),
    tk AS (SELECT g, string_split(t, ' ') AS tk FROM norm),
    grams AS (
      SELECT DISTINCT g,
             tk[i] || '|' || tk[i + 1] || '|' || tk[i + 2] AS gram
      FROM tk, unnest(range(1, len(tk) - 1)) AS u(i)
      WHERE len(tk) >= 3),
    sizes AS (SELECT g, count(*) AS sz FROM grams GROUP BY g),
    inter AS (
      SELECT x.g AS a, y.g AS b, count(*) AS n_inter
      FROM grams x JOIN grams y ON y.gram = x.gram AND x.g < y.g
      GROUP BY x.g, y.g)
    SELECT a, b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS DOUBLE)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.g = inter.a
    JOIN sizes sb ON sb.g = inter.b
    """,
)
def source_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 3-gram Jaccard overlap matrix
    (text/contamination.py source_overlap): the contamination audit
    between corpus partitions before mixing — per-group distinct gram
    sets, intersections from one gram equi-join (work proportional to
    shared grams), broadcast set sizes.  Raw exact-integer division,
    no rounding (bit-identical doubles)."""
    from gofast_spark.text.contamination import source_overlap

    d = _docs(spark, sf_dir)
    return source_overlap(d, "source", "text", n=3)


@query(
    "langid_confusion_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, lang, {_norm_sql('text')} AS t FROM documents),
    toks AS (SELECT doc_id, lang, string_split(t, ' ') AS tk FROM norm),
    pred AS (
      SELECT lang,
             list_sort([
               {", ".join(
                   "{'neg': -len(list_filter(tk, x -> list_contains(%s, x))), 'code': '%s'}"
                   % (_sql_list(words), lang)
                   for lang, words in sorted(LANG_STOPWORDS.items())
               )}
             ])[1].code AS lang_pred
      FROM toks)
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
)
def langid_confusion_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic stopword-argmax
    predictor (text/analysis.py language_id) evaluated against the
    fixture's ground-truth lang column — per (truth, predicted) counts
    in one projection + one groupBy.  The eval harness every classifier
    needs, expressed relationally."""
    from gofast_spark.text import language_id

    d = _docs(spark, sf_dir)
    out = language_id(d, "text")
    return out.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "zipf_slope_documents",
    oracle=f"""
    WITH norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    tk AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm WHERE len(t) > 0),
    counts AS (SELECT w, count(*) AS n_w FROM tk GROUP BY w),
    total AS (SELECT sum(n_w) AS nt FROM counts),
    head AS (
      SELECT w, n_w,
             row_number() OVER (ORDER BY n_w DESC, w) AS r
      FROM counts ORDER BY n_w DESC, w LIMIT 500),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(ln(CAST(r AS DOUBLE))) AS sx,
             sum(ln(CAST(n_w AS DOUBLE))) AS sy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(n_w AS DOUBLE))) AS sxy
      FROM head)
    SELECT CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS DOUBLE) AS slope,
           CAST(round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                        * sx) / n, 4) AS DOUBLE) AS intercept,
           CAST(n AS BIGINT) AS n_terms,
           CAST(nt AS BIGINT) AS n_tokens
    FROM m, total
    """,
)
def zipf_slope_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf frequency-spectrum fit (text/cooccur.py zipf_slope; Zipf
    1949) over the documents vocabulary: one explode + vocab groupBy,
    deterministic (count DESC, token) head ranking, closed-form log-log
    OLS from one tiny aggregate — the corpus-health fingerprint a
    curation pipeline tracks per snapshot.  The oracle replays the
    rank window and the moment algebra."""
    from gofast_spark.text.cooccur import zipf_slope

    d = _t(spark, sf_dir, "documents")
    out = zipf_slope(d, "text", top_v=500)
    return out.select(
        F.round("slope", 4).cast("double").alias("slope"),
        F.round("intercept", 4).cast("double").alias("intercept"),
        "n_terms", "n_tokens",
    )


@query(
    "negative_samples_documents",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tk AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm WHERE len(t) > 0),
    counts AS (SELECT w, count(*) AS n_w FROM tk GROUP BY w),
    head AS (
      SELECT w, n_w FROM counts ORDER BY n_w DESC, w LIMIT 1000),
    tbl AS (
      SELECT w,
             sum(n_w) OVER (ORDER BY n_w DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_w AS lo,
             sum(n_w) OVER (ORDER BY n_w DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM head),
    tot AS (SELECT max(hi) AS total FROM tbl),
    draws AS (
      SELECT d.doc_id AS id, v.j AS draw,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#'
               || CAST(v.j AS VARCHAR)), 1, 15)) AS BIGINT) % tot.total
               AS u
      FROM documents d CROSS JOIN (VALUES (0), (1)) AS v(j), tot
      WHERE d.doc_id IS NOT NULL)
    SELECT dr.id, CAST(dr.draw AS INT) AS draw, tbl.w AS negative
    FROM draws dr JOIN tbl ON dr.u >= tbl.lo AND dr.u < tbl.hi
    """,
)
def negative_samples_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic word2vec-style negative sampling
    (text/negatives.py; Mikolov et al. 2013): two frequency
    -proportional negatives per document, drawn by the portable md5
    hash mapped into the exact-integer cumulative unigram space, with
    interval lookup as a broadcast JVM binary search (Bucketizer) — no
    range join, fully reproducible across engines and partitionings.
    The oracle replays the cumulative table and hash draw
    relationally."""
    from gofast_spark.text.negatives import negative_samples

    d = _t(spark, sf_dir, "documents")
    return negative_samples(d, "doc_id", "text", k=2, top_v=1000)


@query(
    "embedding_drift_labels",
    oracle="""
    WITH a AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND label % 2 = 0),
    b AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND label % 2 = 1),
    am AS (SELECT dim, avg(v) AS ma, count(*) AS na FROM a GROUP BY dim),
    bm AS (SELECT dim, avg(v) AS mb, count(*) AS nb FROM b GROUP BY dim),
    j AS (SELECT am.ma, bm.mb, am.na, bm.nb
          FROM am JOIN bm ON bm.dim = am.dim)
    SELECT CAST(round(sum(ma * mb)
             / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6) AS DOUBLE)
             AS cos_means,
           CAST(round(sqrt(sum(mb * mb)) / sqrt(sum(ma * ma)), 6)
             AS DOUBLE) AS norm_ratio,
           CAST(max(na) AS BIGINT) AS n_ref,
           CAST(max(nb) AS BIGINT) AS n_cur
    FROM j
    """,
)
def embedding_drift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift (sim/drift.py embedding_drift —
    the embedding-space analogue of the PSI monitor): even- vs
    odd-label slices compared by mean-vector cosine and norm ratio —
    2 x 64 doubles of state from one posexplode groupBy per slice,
    catching encoder-version or source-mix skew before recall moves.
    The oracle replays the per-dim means with matched rounding."""
    from gofast_spark.sim.drift import embedding_drift

    e = _t(spark, sf_dir, "embeddings")
    out = embedding_drift(
        e.where(F.col("label") % 2 == 0),
        e.where(F.col("label") % 2 == 1),
        "embedding",
    )
    return out.select(
        F.round("cos_means", 6).cast("double").alias("cos_means"),
        F.round("norm_ratio", 6).cast("double").alias("norm_ratio"),
        "n_ref", "n_cur",
    )


@query(
    "readability_documents",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, text, {_norm_sql('text')} AS t FROM documents),
    f AS (
      SELECT doc_id,
             len(string_split(t, ' ')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1)
               AS n_sentences,
             greatest(len(regexp_extract_all(t, '[aeiouy]+')),
                      len(string_split(t, ' '))) AS n_syllables
      FROM norm WHERE text IS NOT NULL AND length(t) > 0)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(round(206.835
                      - 1.015 * (CAST(n_words AS DOUBLE)
                                 / CAST(n_sentences AS DOUBLE))
                      - 84.6 * (CAST(n_syllables AS DOUBLE)
                                / CAST(n_words AS DOUBLE)), 4)
             AS DOUBLE) AS flesch_ease,
           CAST(round(0.39 * (CAST(n_words AS DOUBLE)
                              / CAST(n_sentences AS DOUBLE))
                      + 11.8 * (CAST(n_syllables AS DOUBLE)
                                / CAST(n_words AS DOUBLE))
                      - 15.59, 4) AS DOUBLE) AS fk_grade
    FROM f
    """,
)
def readability_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + FK grade per document
    (text/analysis.readability; Flesch 1948, Kincaid et al. 1975):
    sentence/word/vowel-group counts as row-local regexp projections —
    a corpus-quality signal for one codegen'd scan, extending the
    quality-classifier feature family."""
    from gofast_spark.text.analysis import readability

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = readability(d, "text")
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        F.round("flesch_ease", 4).cast("double").alias("flesch_ease"),
        F.round("fk_grade", 4).cast("double").alias("fk_grade"),
    )


@query(
    "set_similarity_join_documents",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_norm_sql('text')} AS t FROM documents
      WHERE text IS NOT NULL),
    toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
            FROM norm WHERE length(t) > 0)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, n_inter,
             sa.sz + sb.sz - n_inter AS n_union
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
             AS DOUBLE) AS jaccard
    FROM j WHERE 1000000 * n_inter >= 950000 * n_union
    """,
)
def set_similarity_join_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at word-Jaccard >= 0.95
    (dedup/setsim.py; Bayardo et al. WWW 2007 prefix filtering): the
    engine indexes only each document's rarest-first prefix tokens, so
    candidate generation is one equi-join on a pruned index — while
    the ORACLE runs the blind all-pairs token join.  Hash equality
    proves the filter loses no pair; the >= cut compares scaled
    integers so the boundary is engine-exact."""
    from gofast_spark.dedup.setsim import set_similarity_join

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = set_similarity_join(d, "doc_id", "text", threshold=0.95)
    return out.select(
        "id_a", "id_b", "n_inter", "n_union",
        F.round("jaccard", 6).cast("double").alias("jaccard"),
    )


@query(
    "good_turing_documents",
    oracle=f"""
    WITH norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    toks AS (
      SELECT unnest(string_split(t, ' ')) AS tok
      FROM norm WHERE len(t) >= 1),
    counts AS (SELECT tok, count(*) AS r FROM toks GROUP BY tok),
    spec AS (SELECT r, count(*) AS n_r FROM counts GROUP BY r),
    nb AS (
      SELECT r, n_r,
             coalesce(lag(r) OVER (ORDER BY r), 0) AS q,
             coalesce(lead(r) OVER (ORDER BY r),
                      2 * r - coalesce(lag(r) OVER (ORDER BY r), 0)) AS t2
      FROM spec),
    sz AS (
      SELECT r, n_r,
             2.0 * n_r / (t2 - q) AS z_r,
             ln(CAST(r AS DOUBLE)) AS x,
             ln(2.0 * n_r / (t2 - q)) AS y
      FROM nb),
    fit AS (
      SELECT count(*) AS m,
             sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sx,
             sum(CAST(floor(y * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sy,
             sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sxx,
             sum(CAST(floor(x * y * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sxy
      FROM sz),
    bfit AS (
      SELECT (m * sxy - sx * sy) / (m * sxx - sx * sx) AS b FROM fit),
    tot AS (
      SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
      FROM spec)
    SELECT r, n_r, z_r,
           (r + 1) * power(CAST(r + 1 AS DOUBLE) / CAST(r AS DOUBLE), b)
             AS r_star,
           (r + 1) * power(CAST(r + 1 AS DOUBLE) / CAST(r AS DOUBLE), b)
             / CAST(n_tokens AS DOUBLE) AS p_gt,
           CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p0
    FROM sz, bfit, tot
    """,
)
def good_turing_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts spectrum with Gale-Sampson LGT
    smoothing (text/goodturing.py; Good 1953, Gale & Sampson 1995):
    one corpus-sized token-count shuffle, spectrum-sized everything
    after; the log-log OLS slope comes from micro-unit-quantized term
    sums so both engines derive the identical slope, and r* =
    (r+1)((r+1)/r)^b needs no intercept.  Unrounded — all outputs are
    bit-identical doubles."""
    from gofast_spark.text.goodturing import good_turing_spectrum

    d = _t(spark, sf_dir, "documents")
    out = good_turing_spectrum(d, "text")
    return out.select(
        "r", "n_r", "z_r", "r_star", "p_gt", "p0"
    )


def _textrank_oracle(n_iter: int = 5, damping: float = 0.85) -> str:
    """Bigram graph from length-filtered tokens + the unrolled
    synchronous PageRank chain (the _pagerank_oracle pattern) on token
    nodes."""
    ctes = [
        f"""norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    tk AS (
      SELECT list_filter(string_split(t, ' '), x -> len(x) >= 3) AS tk
      FROM norm WHERE len(t) > 0),
    tk2 AS (SELECT tk FROM tk WHERE len(tk) >= 2),
    rawp AS (
      SELECT tk[i] AS a, tk[i + 1] AS b
      FROM tk2, unnest(range(1, len(tk))) AS u(i)),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM rawp WHERE a <> b
        UNION ALL
        SELECT b AS src, a AS dst FROM rawp WHERE a <> b)),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""i{t} AS (
      SELECT e.dst AS node, sum(r.rank / d.outdeg) AS inc
      FROM edges e
      JOIN r{t - 1} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst),
    r{t} AS (
      SELECT nd.node,
             (1 - {damping}) / nn.n + {damping} * coalesce(i.inc, 0) AS rank
      FROM nodes nd CROSS JOIN nn LEFT JOIN i{t} i ON i.node = nd.node)"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT node AS token, CAST(round(rank, 8) AS DOUBLE) AS rank
    FROM r{n_iter}
    ORDER BY round(rank, 8) DESC, node
    LIMIT 20
    """


@query("textrank_keywords_documents", oracle=_textrank_oracle(5, 0.85))
def textrank_keywords_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords (text/keywords.py; Mihalcea &
    Tarau 2004): adjacent-token co-occurrence graph over length>=3
    tokens — the bigram_pmi scan shape — feeding the shared
    broadcast-ranks PageRank; top-20 by round-8 rank with token
    tie-break.  The oracle unrolls all five power iterations on the
    identical token graph."""
    from gofast_spark.text.keywords import textrank_keywords

    out = textrank_keywords(
        _docs(spark, sf_dir), "text", iterations=5, damping=0.85, top_k=20
    )
    return out.select(
        "token", F.round("rank", 8).cast("double").alias("rank")
    )


@query(
    "heaps_law_documents",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    base AS (
      SELECT doc_id AS id, string_split(t, ' ') AS tk,
             {md5_hash64_sql("CAST(doc_id AS VARCHAR)")} AS shuf
      FROM norm WHERE len(t) > 0),
    ranked AS (
      SELECT id, tk,
             row_number() OVER (ORDER BY shuf, id) AS r,
             sum(len(tk)) OVER (ORDER BY shuf, id ROWS UNBOUNDED PRECEDING)
               AS cumtok
      FROM base),
    firstocc AS (
      SELECT w, min(r) AS fr
      FROM (SELECT r, unnest(list_distinct(tk)) AS w FROM ranked)
      GROUP BY w),
    newv AS (SELECT fr, count(*) AS nv FROM firstocc GROUP BY fr),
    axis AS (
      SELECT r, cumtok, coalesce(nv, 0) AS nv
      FROM ranked LEFT JOIN newv ON newv.fr = ranked.r),
    axis2 AS (
      SELECT r, cumtok,
             sum(nv) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS vocab
      FROM axis),
    pts AS (
      SELECT ln(CAST(cumtok AS DOUBLE)) AS x,
             ln(CAST(vocab AS DOUBLE)) AS y
      FROM axis2),
    fit AS (
      SELECT count(*) AS m,
             sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sx,
             sum(CAST(floor(y * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sy,
             sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxx,
             sum(CAST(floor(x * y * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxy
      FROM pts),
    tot AS (
      SELECT count(*) AS n_docs, max(cumtok) AS n_tokens,
             max(vocab) AS vocab
      FROM axis2)
    SELECT CAST((m * sxy - sx * sy) / (m * sxx - sx * sx) AS DOUBLE) AS beta,
           CAST(exp((sy - ((m * sxy - sx * sy) / (m * sxx - sx * sx)) * sx)
                    / m) AS DOUBLE) AS k,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab
    FROM fit, tot
    """,
)
def heaps_law_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent over the md5-shuffled
    corpus (text/goodturing.py heaps_law; Heaps 1978): doc ranks and
    token axes via the TWO-PHASE distributed prefix scan (never a
    single-reducer window on the corpus), first-occurrence ranks from
    one (token -> min rank) aggregate, micro-unit-quantized log-log
    OLS — beta and K are unrounded bit-exact."""
    from gofast_spark.text.goodturing import heaps_law

    return heaps_law(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "llr_collocations_documents",
    oracle=f"""
    WITH norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    tk AS (SELECT string_split(t, ' ') AS tk FROM norm WHERE len(t) > 0),
    pairs AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS n_pair
      FROM tk, unnest(range(1, len(tk))) AS u(i)
      GROUP BY 1, 2),
    fst AS (SELECT w1, sum(n_pair) AS r1 FROM pairs GROUP BY 1),
    snd AS (SELECT w2, sum(n_pair) AS c1 FROM pairs GROUP BY 1),
    tot AS (SELECT sum(n_pair) AS nn FROM pairs),
    sc AS (
      SELECT p.w1, p.w2, p.n_pair,
        2.0 * (
          CASE WHEN n_pair > 0 THEN CAST(n_pair AS DOUBLE)
            * ln(CAST(n_pair AS DOUBLE) * nn
                 / (CAST(r1 AS DOUBLE) * c1)) ELSE 0.0 END
          + CASE WHEN r1 - n_pair > 0 THEN CAST(r1 - n_pair AS DOUBLE)
            * ln(CAST(r1 - n_pair AS DOUBLE) * nn
                 / (CAST(r1 AS DOUBLE) * (nn - c1))) ELSE 0.0 END
          + CASE WHEN c1 - n_pair > 0 THEN CAST(c1 - n_pair AS DOUBLE)
            * ln(CAST(c1 - n_pair AS DOUBLE) * nn
                 / (CAST(nn - r1 AS DOUBLE) * c1)) ELSE 0.0 END
          + CASE WHEN nn - r1 - c1 + n_pair > 0
            THEN CAST(nn - r1 - c1 + n_pair AS DOUBLE)
            * ln(CAST(nn - r1 - c1 + n_pair AS DOUBLE) * nn
                 / (CAST(nn - r1 AS DOUBLE) * (nn - c1))) ELSE 0.0 END
        ) AS llr
      FROM pairs p
      JOIN fst USING (w1) JOIN snd USING (w2) CROSS JOIN tot
      WHERE n_pair >= 5)
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(round(llr, 6) AS DOUBLE) AS llr
    FROM sc
    ORDER BY llr DESC, n_pair DESC, w1, w2
    LIMIT 50
    """,
)
def llr_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by Dunning log-likelihood ratio
    (text/cooccur.py llr_collocations; Dunning 1993) — the
    count-robust companion to `bigram_pmi_documents`: every margin of
    the 2x2 table derives from the ONE bigram count table, so a single
    corpus explode feeds the whole score."""
    from gofast_spark.text.cooccur import llr_collocations

    return llr_collocations(
        _docs(spark, sf_dir), "text", min_count=5, top_k=50
    )


@query(
    "multinomial_nb_confusion_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, {_norm_sql('text')} AS t FROM documents),
    tr AS (
      SELECT lang AS cls, string_split(t, ' ') AS tk FROM base
      WHERE len(t) > 0 AND doc_id % 5 <> 0),
    tcc AS (
      SELECT cls, tk[i] AS token, count(*) AS n_ct
      FROM tr, unnest(range(1, len(tk) + 1)) AS u(i)
      GROUP BY 1, 2),
    ct AS (SELECT cls, sum(n_ct) AS n_c FROM tcc GROUP BY 1),
    vv AS (SELECT count(DISTINCT token) AS v FROM tcc),
    pri AS (
      SELECT cls,
             CAST(floor(ln(CAST(n_docs AS DOUBLE)
                           / CAST(n_train AS DOUBLE)) * 1e6 + 0.5)
               AS BIGINT) AS prior_u
      FROM (SELECT cls, count(*) AS n_docs FROM tr GROUP BY 1),
           (SELECT count(*) AS n_train FROM tr)),
    tek AS (
      SELECT doc_id AS id, lang AS label, string_split(t, ' ') AS tk
      FROM base WHERE len(t) > 0 AND doc_id % 5 = 0),
    ted AS (
      SELECT id, label, tk[i] AS token, count(*) AS n_dt
      FROM tek, unnest(range(1, len(tk) + 1)) AS u(i)
      GROUP BY 1, 2, 3),
    sc AS (
      SELECT ted.id, ted.label, ct.cls, ted.n_dt,
             CAST(floor(ln(CAST(coalesce(tcc.n_ct, 0) + 1 AS DOUBLE)
                           / CAST(ct.n_c + vv.v AS DOUBLE)) * 1e6 + 0.5)
               AS BIGINT) AS logp_u
      FROM ted CROSS JOIN ct CROSS JOIN vv
      LEFT JOIN tcc ON tcc.cls = ct.cls AND tcc.token = ted.token),
    pdc AS (
      SELECT id, label, cls, sum(n_dt * logp_u) AS s
      FROM sc GROUP BY 1, 2, 3),
    tot AS (
      SELECT id, label, pdc.cls, s + prior_u AS score_u
      FROM pdc JOIN pri ON pri.cls = pdc.cls),
    pred AS (
      SELECT id, label, cls AS predicted,
             row_number() OVER (PARTITION BY id
                                ORDER BY score_u DESC, cls ASC) AS rn
      FROM tot)
    SELECT label AS lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def multinomial_nb_confusion_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language confusion matrix of an add-one multinomial naive Bayes
    classifier (ml/bayes.py multinomial_nb_predictions; McCallum &
    Nigam 1998) trained on the doc_id%5!=0 split and scored on the
    held-out fold — vocab-class count table from one explode+groupBy,
    micro-unit-exact per-doc score sums, total argmax tie-break."""
    from gofast_spark.ml.bayes import multinomial_nb_predictions

    d = _docs(spark, sf_dir)
    out = multinomial_nb_predictions(
        d.where(F.col("doc_id") % 5 != 0),
        d.where(F.col("doc_id") % 5 == 0),
        "text", "lang", "doc_id",
    )
    return out.groupBy(
        F.col("label").alias("lang"), "predicted"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@query(
    "js_divergence_sources",
    oracle=f"""
    WITH base AS (
      SELECT source AS g, {_norm_sql('text')} AS t FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3')),
    tk AS (SELECT g, string_split(t, ' ') AS tk FROM base
           WHERE len(t) > 0),
    uni AS (
      SELECT g, tk[i] AS token, count(*) AS n
      FROM tk, unnest(range(1, len(tk) + 1)) AS u(i)
      GROUP BY 1, 2),
    tot AS (SELECT g, sum(n) AS nt FROM uni GROUP BY 1),
    p AS (
      SELECT uni.g, token,
             CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS p
      FROM uni JOIN tot ON tot.g = uni.g),
    per AS (
      SELECT g,
             sum(CAST(floor(p * ln(p) * 1e9 + 0.5) AS BIGINT)) AS e_u,
             sum(CAST(floor(p / 2.0 * ln(p / 2.0) * 1e9 + 0.5)
               AS BIGINT)) AS a_u
      FROM p GROUP BY 1),
    sh AS (
      SELECT a.g AS g1, b.g AS g2,
             sum(CAST(floor((a.p + b.p) / 2.0 * ln((a.p + b.p) / 2.0)
                            * 1e9 + 0.5) AS BIGINT)) AS s_u,
             sum(CAST(floor(a.p / 2.0 * ln(a.p / 2.0) * 1e9 + 0.5)
               AS BIGINT)) AS ba_u,
             sum(CAST(floor(b.p / 2.0 * ln(b.p / 2.0) * 1e9 + 0.5)
               AS BIGINT)) AS bb_u
      FROM p a JOIN p b ON a.token = b.token AND a.g < b.g
      GROUP BY 1, 2)
    SELECT pa.g AS g1, pb.g AS g2,
           CAST((CAST(pa.e_u + pb.e_u AS DOUBLE) / 2.0
                 - CAST(coalesce(s_u, 0)
                        + (pa.a_u - coalesce(ba_u, 0))
                        + (pb.a_u - coalesce(bb_u, 0))
                     AS DOUBLE)) / 1e9 AS DOUBLE) AS jsd
    FROM per pa
    JOIN per pb ON pa.g < pb.g
    LEFT JOIN sh ON sh.g1 = pa.g AND sh.g2 = pb.g
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between four sources'
    unigram distributions (text/entropy.py js_divergence_groups; Lin
    1991) — the corpus-mixing drift readout: one explode+groupBy,
    group-sized entropy rollups, ONE vocab-sized inner self-join (no
    outer join), nano-unit exact reductions."""
    from gofast_spark.text.entropy import js_divergence_groups

    d = _docs(spark, sf_dir).where(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    return js_divergence_groups(d, "text", "source")


@query(
    "rake_keywords_documents",
    oracle=f"""
    WITH norm AS (SELECT {_norm_sql('text')} AS t FROM documents),
    marked AS (
      SELECT regexp_replace(' ' || replace(t, ' ', '  ') || ' ',
                            ' (the|a|of|and|to|in|is) ', ' | ', 'g')
               AS mt
      FROM norm WHERE len(t) > 0),
    ph AS (
      SELECT trim(regexp_replace(seg, ' +', ' ', 'g')) AS phrase
      FROM marked, unnest(string_split(mt, '|')) AS u(seg)),
    phx AS (SELECT phrase FROM ph WHERE len(phrase) > 0),
    ptk AS (SELECT phrase, string_split(phrase, ' ') AS tk FROM phx),
    words AS (
      SELECT tk[i] AS w, len(tk) AS plen
      FROM ptk, unnest(range(1, len(tk) + 1)) AS u(i)),
    stats AS (
      SELECT w,
             CAST(floor(CAST(sum(plen) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS score_u
      FROM words GROUP BY 1),
    pw AS (
      SELECT phrase, tk[i] AS w
      FROM ptk, unnest(range(1, len(tk) + 1)) AS u(i)),
    ps AS (
      SELECT phrase, sum(score_u) AS su
      FROM pw JOIN stats USING (w) GROUP BY 1),
    fr AS (SELECT phrase, count(*) AS pf FROM phx GROUP BY 1)
    SELECT ps.phrase,
           CAST(pf AS BIGINT) AS phrase_freq,
           CAST(round(CAST(su AS DOUBLE) / CAST(pf AS DOUBLE) / 1e6, 6)
             AS DOUBLE) AS rake_score
    FROM ps JOIN fr ON fr.phrase = ps.phrase
    WHERE pf >= 2
    ORDER BY rake_score DESC, ps.phrase
    LIMIT 20
    """,
)
def rake_keywords_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 RAKE keyphrases over the corpus (text/keywords.py
    rake_keywords; Rose et al. 2010) — stopword-boundary phrase
    segmentation as row-local string algebra, deg/freq word scores
    from one vocab-sized aggregate, micro-unit-exact phrase sums."""
    from gofast_spark.text.keywords import rake_keywords

    return rake_keywords(
        _docs(spark, sf_dir), "text", top_k=20, min_phrase_freq=2
    )


@query(
    "chi2_tokens_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang AS cls, {_norm_sql('text')} AS t FROM documents),
    dd AS (SELECT cls, t FROM d WHERE len(t) > 0),
    dt AS (
      SELECT cls, tok AS token
      FROM (SELECT cls, list_distinct(string_split(t, ' ')) AS tk
            FROM dd), unnest(tk) AS u(tok)),
    a AS (SELECT cls, token, count(*) AS df_ct FROM dt GROUP BY 1, 2),
    cs AS (SELECT cls, count(*) AS n_c FROM dd GROUP BY 1),
    tt AS (SELECT count(*) AS nn FROM dd),
    td AS (SELECT token, sum(df_ct) AS n_t FROM a GROUP BY 1),
    j AS (
      SELECT a.cls, a.token, df_ct, n_c, n_t, nn
      FROM a JOIN cs USING (cls) JOIN td USING (token) CROSS JOIN tt
      WHERE n_t >= 2),
    sc AS (
      SELECT cls, token, df_ct,
             round(CASE WHEN
               ((CAST(df_ct AS DOUBLE) + CAST(n_c - df_ct AS DOUBLE))
                * (CAST(n_t - df_ct AS DOUBLE)
                   + CAST(nn - n_t - n_c + df_ct AS DOUBLE))
                * (CAST(df_ct AS DOUBLE) + CAST(n_t - df_ct AS DOUBLE))
                * (CAST(n_c - df_ct AS DOUBLE)
                   + CAST(nn - n_t - n_c + df_ct AS DOUBLE))) > 0.0
             THEN CAST(nn AS DOUBLE)
               * (CAST(df_ct AS DOUBLE)
                    * CAST(nn - n_t - n_c + df_ct AS DOUBLE)
                  - CAST(n_c - df_ct AS DOUBLE)
                    * CAST(n_t - df_ct AS DOUBLE))
               * (CAST(df_ct AS DOUBLE)
                    * CAST(nn - n_t - n_c + df_ct AS DOUBLE)
                  - CAST(n_c - df_ct AS DOUBLE)
                    * CAST(n_t - df_ct AS DOUBLE))
               / ((CAST(df_ct AS DOUBLE) + CAST(n_c - df_ct AS DOUBLE))
                  * (CAST(n_t - df_ct AS DOUBLE)
                     + CAST(nn - n_t - n_c + df_ct AS DOUBLE))
                  * (CAST(df_ct AS DOUBLE) + CAST(n_t - df_ct AS DOUBLE))
                  * (CAST(n_c - df_ct AS DOUBLE)
                     + CAST(nn - n_t - n_c + df_ct AS DOUBLE)))
             ELSE 0.0 END, 6) AS chi2
      FROM j),
    rk AS (
      SELECT cls, token, df_ct, chi2,
             row_number() OVER (PARTITION BY cls
               ORDER BY chi2 DESC, token) AS rn
      FROM sc)
    SELECT cls, token, CAST(df_ct AS BIGINT) AS df_ct,
           CAST(chi2 AS DOUBLE) AS chi2
    FROM rk WHERE rn <= 5
    """,
)
def chi2_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 chi-square-selected tokens per language (text/features.py
    chi2_feature_selection; Yang & Pedersen 1997) — document-frequency
    2x2 contingencies from one explode+distinct+groupBy, double
    promotion from the first multiply, per-class rank window."""
    from gofast_spark.text.features import chi2_feature_selection

    return chi2_feature_selection(
        _docs(spark, sf_dir), "text", "lang", top_k=5, min_df=2
    )


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 64),
    rsh AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(round(i.n_inter * 1.0
                / least(sa.n_sh, sb.n_sh), 4) AS DOUBLE) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.8
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate pairs by n-gram CONTAINMENT
    (dedup/ngram.py ngram_containment_pairs; Broder, SEQUENCES 1997):
    |A intersect B| / min(|A|, |B|) >= 0.8 — catches a short document
    embedded in a long one, where Jaccard (ngram_jaccard_pairs, green
    r5) is diluted by the large union.  Same rare-shingle candidate
    blocking, one intersection verify."""
    from gofast_spark.dedup.ngram import ngram_containment_pairs as pairs

    d = _docs(spark, sf_dir)
    out = pairs(d, "doc_id", "text", k=3, threshold=0.8, max_df=64)
    return out.select(
        "id_a", "id_b", "n_a", "n_b",
        F.round("containment", 4).cast("double").alias("containment"),
    )


@query(
    "ngram_novelty_documents",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_norm_sql('text')} AS t FROM documents
      WHERE doc_id IS NOT NULL),
    tk AS (
      SELECT doc_id, string_split(t, ' ') AS tk FROM norm
      WHERE len(t) > 0),
    bg AS (
      SELECT doc_id, tk[i] || '|' || tk[i + 1] AS bg
      FROM tk, unnest(range(1, len(tk))) AS u(i)),
    train_set AS (SELECT DISTINCT bg FROM bg WHERE doc_id % 5 <> 0),
    test_occ AS (SELECT bg FROM bg WHERE doc_id % 5 = 0),
    test_types AS (SELECT DISTINCT bg FROM test_occ),
    novel_types AS (
      SELECT t.bg FROM test_types t
      LEFT JOIN train_set s ON t.bg = s.bg WHERE s.bg IS NULL),
    novel_occ AS (
      SELECT o.bg FROM test_occ o
      LEFT JOIN train_set s ON o.bg = s.bg WHERE s.bg IS NULL),
    c AS (
      SELECT (SELECT count(*) FROM train_set) AS n_train,
             (SELECT count(*) FROM test_types) AS n_test,
             (SELECT count(*) FROM novel_types) AS n_novel,
             (SELECT count(*) FROM test_occ) AS occ_test,
             (SELECT count(*) FROM novel_occ) AS occ_novel)
    SELECT CAST(n_train AS BIGINT) AS n_train_types,
           CAST(n_test AS BIGINT) AS n_test_types,
           CAST(n_novel AS BIGINT) AS novel_types,
           CAST(n_novel AS DOUBLE) / CAST(n_test AS DOUBLE)
             AS type_novelty,
           CAST(occ_test AS BIGINT) AS test_occurrences,
           CAST(occ_novel AS BIGINT) AS novel_occurrences,
           CAST(occ_novel AS DOUBLE) / CAST(occ_test AS DOUBLE)
             AS occurrence_novelty
    FROM c
    """,
)
def ngram_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram novelty of the doc_id %% 5 == 0 held-out split against
    the training rest (text/cooccur.py ngram_novelty) — the
    memorization/contamination screen beside contamination_check and
    the dedup family: distinct-bigram anti-join, integer counts and
    single-division ratios."""
    from gofast_spark.text.cooccur import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "lexical_richness_documents",
    oracle=f"""
    WITH norm AS (
      SELECT {_norm_sql('text')} AS t FROM documents),
    w AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    a AS (
      SELECT sum(c) AS n, count(*) AS v,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
             sum(CAST(c AS HUGEINT) * c) AS c2
      FROM c)
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(v1 AS BIGINT) AS hapax_types,
           CAST(round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS ttr,
           CAST(round(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE), 6)
             AS DOUBLE) AS hapax_ratio,
           CAST(round(10000.0 * (CAST(c2 AS DOUBLE) - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS DOUBLE)
             AS yule_k
    FROM a
    """,
)
def lexical_richness_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus lexical-richness report: TTR, hapax ratio, Yule's K
    (text/analysis.py lexical_richness; Yule 1944) — the
    boilerplate/repetitiveness gauge beside heaps_law_documents and
    the repetition filters: one word groupBy, integer moments, three
    final ratios."""
    from gofast_spark.text.analysis import lexical_richness

    out = lexical_richness(_docs(spark, sf_dir), "text")
    return out.select(
        "n_tokens", "n_types", "hapax_types",
        F.round("ttr", 6).cast("double").alias("ttr"),
        F.round("hapax_ratio", 6).cast("double").alias("hapax_ratio"),
        F.round("yule_k", 6).cast("double").alias("yule_k"),
    )


@query(
    "cross_perplexity_documents",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_norm_sql('text')} AS t FROM documents
      WHERE doc_id IS NOT NULL),
    tk AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    tr AS (
      SELECT w, count(*) AS c_tr FROM tk WHERE doc_id % 5 <> 0
      GROUP BY w),
    te AS (
      SELECT w, count(*) AS c_te FROM tk WHERE doc_id % 5 = 0
      GROUP BY w),
    tot AS (SELECT sum(c_tr) AS n_tr, count(*) AS v_tr FROM tr),
    j AS (
      SELECT te.c_te, tr.c_tr, tot.n_tr, tot.v_tr
      FROM te LEFT JOIN tr USING (w), tot),
    q AS (
      SELECT c_te, c_tr, n_tr, v_tr,
             CAST(floor(ln(CAST(coalesce(c_tr, 0) + 1 AS DOUBLE)
               / CAST(n_tr + v_tr + 1 AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS lnp
      FROM j),
    a AS (
      SELECT sum(CAST(c_te AS HUGEINT) * lnp) AS s,
             sum(c_te) AS n_te,
             sum(CASE WHEN c_tr IS NULL THEN c_te ELSE 0 END) AS oov,
             min(n_tr) AS n_tr, min(v_tr) AS v_tr
      FROM q)
    SELECT CAST(n_tr AS BIGINT) AS n_train_tokens,
           CAST(v_tr AS BIGINT) AS n_train_types,
           CAST(n_te AS BIGINT) AS n_test_tokens,
           CAST(oov AS BIGINT) AS oov_tokens,
           CAST(round(-CAST(s AS DOUBLE) / 1000000.0
             / CAST(n_te AS DOUBLE), 6) AS DOUBLE) AS cross_entropy,
           CAST(round(exp(-CAST(s AS DOUBLE) / 1000000.0
             / CAST(n_te AS DOUBLE)), 6) AS DOUBLE) AS perplexity
    FROM a
    """,
)
def cross_perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram cross-entropy/perplexity of the doc_id %% 5
    split (text/analysis.py cross_perplexity; Chen & Goodman 1996
    add-one baseline) — the distribution-shift twin of
    ngram_novelty_documents: vocab-sized join, u6-quantized ln p
    terms, integer weighted sum."""
    from gofast_spark.text.analysis import cross_perplexity

    out = cross_perplexity(_docs(spark, sf_dir), "text", "doc_id")
    return out.select(
        "n_train_tokens", "n_train_types", "n_test_tokens", "oov_tokens",
        F.round("cross_entropy", 6).cast("double").alias("cross_entropy"),
        F.round("perplexity", 6).cast("double").alias("perplexity"),
    )


@query(
    "hill_numbers_documents",
    oracle=f"""
    WITH norm AS (
      SELECT {_norm_sql('text')} AS t FROM documents),
    w AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    a AS (
      SELECT sum(c) AS n, count(*) AS v,
             sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               * 1000000.0) AS HUGEINT)) AS t,
             sum(CAST(c AS HUGEINT) * c) AS c2
      FROM c)
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS hill_0,
           CAST(round(exp(ln(CAST(n AS DOUBLE)) - CAST(t AS DOUBLE)
             / 1000000.0 / CAST(n AS DOUBLE)), 6) AS DOUBLE) AS hill_1,
           CAST(round(CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
             / CAST(c2 AS DOUBLE), 6) AS DOUBLE) AS hill_2,
           CAST(round(ln(CAST(n AS DOUBLE)) - CAST(t AS DOUBLE)
             / 1000000.0 / CAST(n AS DOUBLE), 6) AS DOUBLE) AS shannon_h
    FROM a
    """,
)
def hill_numbers_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity profile (q = 0, 1, 2) of the corpus
    token distribution (text/analysis.py hill_numbers; Hill 1973,
    Jost 2006) — effective vocabulary sizes beside Zipf slope and
    Yule's K for mixture monitoring; u6-quantized c*ln(c) summands,
    exact integer inverse-Simpson ratio."""
    from gofast_spark.text.analysis import hill_numbers

    out = hill_numbers(_docs(spark, sf_dir), "text")
    return out.select(
        "n_tokens", "hill_0",
        F.round("hill_1", 6).cast("double").alias("hill_1"),
        F.round("hill_2", 6).cast("double").alias("hill_2"),
        F.round("shannon_h", 6).cast("double").alias("shannon_h"),
    )


@query(
    "lexical_richness_by_lang_documents",
    oracle=f"""
    WITH norm AS (
      SELECT lang, {_norm_sql('text')} AS t FROM documents
      WHERE lang IS NOT NULL),
    w AS (
      SELECT lang, unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT lang, w, count(*) AS c FROM w GROUP BY lang, w),
    a AS (
      SELECT lang, sum(c) AS n, count(*) AS v,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
             sum(CAST(c AS HUGEINT) * c) AS c2
      FROM c GROUP BY lang)
    SELECT lang,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(v1 AS BIGINT) AS hapax_types,
           CAST(round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS ttr,
           CAST(round(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE), 6)
             AS DOUBLE) AS hapax_ratio,
           CAST(round(10000.0 * (CAST(c2 AS DOUBLE) - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS DOUBLE)
             AS yule_k
    FROM a
    """,
)
def lexical_richness_by_lang_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language lexical richness (text/analysis.py
    lexical_richness_by_group) — the corpus-mixture monitor: one
    (lang, word) groupBy, one group aggregate, never per-group
    passes."""
    from gofast_spark.text.analysis import lexical_richness_by_group

    d = _docs(spark, sf_dir).where(F.col("lang").isNotNull())
    out = lexical_richness_by_group(d, "text", "lang")
    return out.select(
        "lang", "n_tokens", "n_types", "hapax_types",
        F.round("ttr", 6).cast("double").alias("ttr"),
        F.round("hapax_ratio", 6).cast("double").alias("hapax_ratio"),
        F.round("yule_k", 6).cast("double").alias("yule_k"),
    )


@query(
    "vocab_coverage_documents",
    oracle=f"""
    WITH norm AS (
      SELECT {_norm_sql('text')} AS t FROM documents),
    w AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
      FROM c),
    a AS (
      SELECT sum(c) AS n, count(*) AS v,
             sum(CASE WHEN r <= 10 THEN c ELSE 0 END) AS top10,
             sum(CASE WHEN r <= 100 THEN c ELSE 0 END) AS top100,
             sum(CASE WHEN r <= 1000 THEN c ELSE 0 END) AS top1000
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(round(CAST(top10 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS cov_10,
           CAST(round(CAST(top100 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS cov_100,
           CAST(round(CAST(top1000 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS cov_1000
    FROM a
    """,
)
def vocab_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-coverage of the corpus token distribution at top-10/100/
    1000 types (text/analysis.py vocab_topk_coverage) — the
    cumulative-Zipf readout that sizes a BPE vocabulary; rank window
    on the vocab-sized frame with the (count DESC, word ASC)
    deterministic tie-break."""
    from gofast_spark.text.analysis import vocab_topk_coverage

    out = vocab_topk_coverage(_docs(spark, sf_dir), "text")
    return out.select(
        "n_tokens", "n_types",
        F.round("cov_10", 6).cast("double").alias("cov_10"),
        F.round("cov_100", 6).cast("double").alias("cov_100"),
        F.round("cov_1000", 6).cast("double").alias("cov_1000"),
    )


@query(
    "doc_length_ks_by_source",
    oracle="""
    WITH cnt AS (
      SELECT source AS grp,
             least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 6.0)
                   AS INT), 0), 99) AS bin,
             count(*) AS n
      FROM documents
      WHERE n_chars IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(100)),
    grid AS (
      SELECT g.grp, s.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT grp FROM cnt) g
      CROSS JOIN spine s
      LEFT JOIN cnt c ON c.grp = g.grp AND c.bin = s.bin),
    mg AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY bin) AS tot_b,
             sum(n) OVER (PARTITION BY grp) AS n_g,
             sum(n) OVER () AS n_all
      FROM grid),
    m AS (
      SELECT grp, n_g, n_all,
             sum(n) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
             sum(tot_b) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      FROM mg)
    SELECT grp AS "group",
           CAST(max(n_g) AS BIGINT) AS n_group,
           CAST(max(n_all) - max(n_g) AS BIGINT) AS n_rest,
           max(CAST(floor(abs(
             CAST(cum_g AS DOUBLE) / CAST(n_g AS DOUBLE)
             - CAST(cum_all - cum_g AS DOUBLE)
               / CAST(n_all - n_g AS DOUBLE)) * 1000000 + 0.5)
             AS BIGINT)) AS ks_u6
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def doc_length_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS drift of document LENGTH against the
    rest of the corpus (quality/drift.py ks_by_group on n_chars) —
    the length-distribution mixture monitor a corpus build reads
    beside psi_by_source_documents; declared 100-bin grid over
    [0, 600) chars."""
    from gofast_spark.quality.drift import ks_by_group

    d = _t(spark, sf_dir, "documents").select("source", "n_chars").where(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    return ks_by_group(d, "source", "n_chars", lo=0.0, hi=600.0, bins=100)


@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH base AS (
      SELECT lang, {_norm_sql('text')} AS t, text FROM documents
      WHERE lang IS NOT NULL),
    q AS (
      SELECT lang,
             len(string_split(t, ' ')) AS w,
             len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS b
      FROM base WHERE len(t) > 0)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS ws_tokens,
           CAST(sum(b) AS BIGINT) AS bpe_tokens,
           CAST(round(CAST(sum(b) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
             AS DOUBLE) AS fertility
    FROM q GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language tokenizer fertility: BPE-proxy tokens per
    whitespace word (text/analysis.py tokenizer_fertility_by_group)
    — the sequence-length cost multiplier of a multilingual mixture;
    integer count sums, one division per language."""
    from gofast_spark.text.analysis import tokenizer_fertility_by_group

    d = _docs(spark, sf_dir).where(F.col("lang").isNotNull())
    out = tokenizer_fertility_by_group(d, "text", "lang")
    return out.select(
        "lang", "n_docs", "ws_tokens", "bpe_tokens",
        F.round("fertility", 6).cast("double").alias("fertility"),
    )


@query(
    "chao1_vocabulary_documents",
    oracle=f"""
    WITH norm AS (
      SELECT {_norm_sql('text')} AS t FROM documents),
    w AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    a AS (
      SELECT count(*) AS v,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS v2,
             sum(c) AS n
      FROM c)
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(v1 AS BIGINT) AS singletons,
           CAST(v2 AS BIGINT) AS doubletons,
           CAST(round(CAST(v AS DOUBLE) + CAST(v1 AS DOUBLE)
             * (CAST(v1 AS DOUBLE) - 1.0)
             / (2.0 * (CAST(v2 AS DOUBLE) + 1.0)), 6) AS DOUBLE)
             AS chao1,
           CAST(round(CAST(v AS DOUBLE) + CAST(v1 AS DOUBLE)
             * (CAST(v1 AS DOUBLE) - 1.0)
             / (2.0 * (CAST(v2 AS DOUBLE) + 1.0))
             - CAST(v AS DOUBLE), 6) AS DOUBLE) AS unseen_types_est
    FROM a
    """,
)
def chao1_vocabulary_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chao1 total-vocabulary lower bound from singleton/doubleton
    type counts (text/analysis.py chao1_vocabulary; Chao 1984) — the
    vocabulary-saturation gauge beside good_turing_documents and
    heaps_law_documents: one word groupBy, one exact closed form."""
    from gofast_spark.text.analysis import chao1_vocabulary

    out = chao1_vocabulary(_docs(spark, sf_dir), "text")
    return out.select(
        "n_tokens", "n_types", "singletons", "doubletons",
        F.round("chao1", 6).cast("double").alias("chao1"),
        F.round("unseen_types_est", 6).cast("double").alias(
            "unseen_types_est"
        ),
    )


@query(
    "token_evenness_by_source",
    oracle=f"""
    WITH norm AS (
      SELECT source, {_norm_sql('text')} AS t FROM documents
      WHERE source IS NOT NULL),
    w AS (
      SELECT source, unnest(string_split(t, ' ')) AS w FROM norm
      WHERE len(t) > 0),
    c AS (SELECT source, w, count(*) AS c FROM w GROUP BY source, w),
    a AS (
      SELECT source, sum(c) AS n, count(*) AS v,
             sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               * 1000000.0) AS HUGEINT)) AS t
      FROM c GROUP BY source)
    SELECT source,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(round(ln(CAST(n AS DOUBLE)) - CAST(t AS DOUBLE)
             / 1000000.0 / CAST(n AS DOUBLE), 6) AS DOUBLE) AS shannon_h,
           CASE WHEN v > 1 THEN CAST(round(
             (ln(CAST(n AS DOUBLE)) - CAST(t AS DOUBLE) / 1000000.0
              / CAST(n AS DOUBLE)) / ln(CAST(v AS DOUBLE)), 6) AS DOUBLE)
           END AS evenness
    FROM a
    """,
)
def token_evenness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pielou evenness of the token distribution
    (text/analysis.py token_evenness_by_group; Pielou 1966) — the
    normalized head-heaviness monitor beside
    lexical_richness_by_lang_documents."""
    from gofast_spark.text.analysis import token_evenness_by_group

    d = _docs(spark, sf_dir).where(F.col("source").isNotNull())
    out = token_evenness_by_group(d, "text", "source")
    return out.select(
        "source", "n_tokens", "n_types",
        F.round("shannon_h", 6).cast("double").alias("shannon_h"),
        F.round("evenness", 6).cast("double").alias("evenness"),
    )


# ---------------------------------------------------------------------------
# Round-12 composition wave: dataset cards, the shared-shingle dedup
# health report, and the containment-dedup corpus build (r11 verdict
# ask #7 — composition/infrastructure over new statistics).
# ---------------------------------------------------------------------------


@query(
    "dataset_card_documents",
    oracle=f"""
    WITH {_FILTER_KEEP_CTES},
    cnorm AS (SELECT source, lang, {_norm_sql('text')} AS t FROM documents),
    docs AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             count(DISTINCT lang) AS n_langs,
             sum(CASE WHEN len(t) > 0 THEN len(string_split(t, ' '))
                 ELSE 0 END) AS n_tokens,
             count(DISTINCT t) AS n_exact_unique
      FROM cnorm),
    w AS (SELECT unnest(string_split(t, ' ')) AS w FROM cnorm
          WHERE len(t) > 0),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    vocab AS (
      SELECT count(*) AS n_types,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax_types
      FROM c),
    lc AS (SELECT lang, count(*) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
    lt AS (SELECT sum(n) AS tot FROM lc),
    ent AS (
      SELECT sum(CAST(floor(-(n * 1.0 / tot) * ln(n * 1.0 / tot)
                 * 1000000 + 0.5) AS BIGINT)) AS e
      FROM lc, lt),
    kr AS (SELECT count(*) AS n_kept FROM fkeep)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(hapax_types AS BIGINT) AS hapax_types,
           CAST(n_exact_unique AS BIGINT) AS n_exact_unique,
           CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens,
           CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
           CAST(hapax_types AS DOUBLE) / CAST(n_types AS DOUBLE)
             AS hapax_ratio,
           (n_docs - n_exact_unique) / CAST(n_docs AS DOUBLE)
             AS exact_dup_ratio,
           CAST(e AS BIGINT) AS lang_entropy_u6,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_kept AS DOUBLE) / n_docs AS keep_ratio
    FROM docs, vocab, ent, kr
    """,
)
def dataset_card_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus DATASET CARD (the r11 verdict's named
    composition entry): inventory, token mass, lexical richness,
    exact-duplicate share, language-mix entropy (text/analysis.py
    dataset_card) crossed with the C4/Gopher composite-filter keep
    rate (text/corpus_filter.py) — the summary block a corpus release
    publishes, composed from already-verified constituents in one
    plan.  Every ratio is an exact integer division (NULL over a zero
    count, as in SQL) and the entropy rides u6-quantized integer terms,
    so the card is engine-exact."""
    from gofast_spark.text import corpus_filter
    from gofast_spark.text.analysis import dataset_card

    d = _docs(spark, sf_dir)
    card = dataset_card(d, "text", "source", "lang")
    kept = corpus_filter(d, "text").agg(
        F.coalesce(F.sum(F.col("keep").cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_kept")
    )
    return card.crossJoin(F.broadcast(kept)).select(
        "n_docs", "n_sources", "n_langs", "n_tokens", "n_types",
        "hapax_types", "n_exact_unique", "mean_tokens", "ttr",
        "hapax_ratio", "exact_dup_ratio", "lang_entropy_u6", "n_kept",
        F.try_divide(
            F.col("n_kept").cast("double"), F.col("n_docs").cast("double")
        ).alias("keep_ratio"),
    )


@query(
    "dataset_card_by_source_documents",
    oracle=f"""
    WITH cnorm AS (
      SELECT source AS g, {_norm_sql('text')} AS t FROM documents
      WHERE source IS NOT NULL),
    docs AS (
      SELECT g, count(*) AS n_docs,
             sum(CASE WHEN len(t) > 0 THEN len(string_split(t, ' '))
                 ELSE 0 END) AS n_tokens,
             count(DISTINCT t) AS n_exact_unique
      FROM cnorm GROUP BY g),
    wv AS (
      SELECT g, w, count(*) AS c FROM (
        SELECT g, unnest(string_split(t, ' ')) AS w FROM cnorm
        WHERE len(t) > 0) GROUP BY g, w),
    vocab AS (SELECT g, count(*) AS n_types FROM wv GROUP BY g)
    SELECT d.g AS "group",
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(v.n_types, 0) AS BIGINT) AS n_types,
           CAST(d.n_exact_unique AS BIGINT) AS n_exact_unique,
           CAST(d.n_tokens AS DOUBLE) / d.n_docs AS mean_tokens,
           CASE WHEN d.n_tokens > 0
                THEN coalesce(v.n_types, 0) / CAST(d.n_tokens AS DOUBLE)
           END AS ttr,
           (d.n_docs - d.n_exact_unique) / CAST(d.n_docs AS DOUBLE)
             AS exact_dup_ratio
    FROM docs d LEFT JOIN vocab v ON v.g = d.g
    ORDER BY 1
    """,
)
def dataset_card_by_source_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-SOURCE dataset card (text/analysis.py dataset_card_by_group)
    — the per-partner-feed monitoring row an ingest pipeline reads:
    document count, token mass, vocabulary size, TTR, and the
    exact-duplicate share WITHIN each source.  One doc-level and one
    word-level group aggregate joined on the group key; all ratios
    exact integer divisions."""
    from gofast_spark.text.analysis import dataset_card_by_group

    return dataset_card_by_group(_docs(spark, sf_dir), "source", "text")


@query(
    "dedup_rate_report_documents",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 64),
    rsh AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b),
    meas AS (
      SELECT i.id_a, i.id_b,
             i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
               AS j,
             i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.8 AS c
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b),
    cnt AS (
      SELECT count(*) AS n_candidate_pairs,
             coalesce(sum(CASE WHEN j THEN 1 ELSE 0 END), 0)
               AS n_jaccard_pairs,
             coalesce(sum(CASE WHEN c THEN 1 ELSE 0 END), 0)
               AS n_containment_pairs
      FROM meas),
    fl AS (
      SELECT count(DISTINCT d) AS n_docs_flagged FROM (
        SELECT unnest([id_a, id_b]) AS d FROM meas WHERE j OR c)),
    ex AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT {_norm_sql('text')}) AS n_exact_unique
      FROM documents)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_exact_unique AS BIGINT) AS n_exact_unique,
           CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
           CAST(n_jaccard_pairs AS BIGINT) AS n_jaccard_pairs,
           CAST(n_containment_pairs AS BIGINT) AS n_containment_pairs,
           CAST(n_docs_flagged AS BIGINT) AS n_docs_flagged
    FROM ex, cnt, fl
    """,
)
def dedup_rate_report_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row near-duplication HEALTH CARD (dedup/ngram.py
    ngram_dedup_report): exact-duplicate count plus exact Jaccard AND
    containment over-threshold pair counts from ONE shared shingle
    frame / candidate set / intersection — half the join work of
    running the two pair entries separately, which is the point at
    100 TB.  The go/no-go readout a corpus build checks before and
    after its dedup stage."""
    from gofast_spark.dedup.ngram import ngram_dedup_report
    from gofast_spark.text.analysis import normalize_text

    d = _docs(spark, sf_dir)
    rep = ngram_dedup_report(
        d, "doc_id", "text",
        k=3, jaccard_threshold=0.8, containment_threshold=0.8, max_df=64,
    )
    exact = d.agg(
        F.countDistinct(normalize_text("text"))
        .cast("bigint")
        .alias("n_exact_unique")
    )
    return rep.crossJoin(F.broadcast(exact)).select(
        "n_docs", "n_exact_unique", "n_candidate_pairs",
        "n_jaccard_pairs", "n_containment_pairs", "n_docs_flagged",
    )


@query(
    "corpus_build_containment_survivors",
    oracle=f"""
    WITH {_FILTER_KEEP_CTES},
    {_SHINGLE_CTES.replace("FROM documents", "FROM kept_docs")},
    rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 64),
    rsh AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b),
    prs AS (
      SELECT i.id_a, i.id_b, sa.n_sh AS na, sb.n_sh AS nb
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.8),
    drp AS (
      SELECT DISTINCT CASE WHEN na < nb THEN id_a
                           WHEN nb < na THEN id_b
                           ELSE greatest(id_a, id_b) END AS doc_id
      FROM prs),
    surv AS (
      SELECT k.doc_id FROM kept_docs k
      LEFT JOIN drp ON drp.doc_id = k.doc_id
      WHERE drp.doc_id IS NULL)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(n.t) > 0
                    THEN len(string_split(n.t, ' ')) ELSE 0 END)
             AS BIGINT) AS tok_sum
    FROM surv s
    JOIN documents d ON d.doc_id = s.doc_id
    JOIN norm n ON n.doc_id = s.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def corpus_build_containment_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus build with CONTAINMENT dedup as the stage (the r11
    verdict's named composition variant): C4/Gopher composite filter
    -> exact n-gram containment pairs at 0.8 (dedup/ngram.py; Broder
    1997's containment coefficient — catches the short-doc-embedded
    -in-long case Jaccard dilutes) -> drop the SMALLER-shingle-set
    member of each pair (the contained quote/wrapper; ties break to
    the larger doc_id) -> per-source survivor counts and token mass.
    Every stage is individually oracle-verified; this verifies their
    composition."""
    return _containment_build(spark, sf_dir, stage_sink=None)


# the persisted-stage entry must hash-match the SAME oracle as the toy
# layout — register it by reference so the two can never drift
@query(
    "corpus_build_persisted_stage_survivors",
    oracle=ORACLE_SQL["corpus_build_containment_survivors"],
)
def corpus_build_persisted_stage_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME containment corpus build run through the PRODUCTION
    stage layout (r13 verdict ask #4: stage_sink= in an oracle-checked
    driver entry, not just a unit test): every stage boundary persists
    as a parquet table (``session.pin``'s ``sink``) and the
    next stage reads it back, so the keep-predicate and the
    three-column projection push into a real columnar scan — the
    replayable, fault-tolerant layout a 100-TB build runs — and the
    result must still hash-match the toy-layout oracle byte-for-byte."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="gf_stage_entry_")
    try:
        out = _containment_build(
            spark, sf_dir, stage_sink=f"{base}/stage"
        )
        # pin the result before the stage tables are deleted
        return pin(out, "persisted_stage:result")[0]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _containment_build(
    spark: SparkSession, sf_dir: str, *, stage_sink: str | None = None
) -> DataFrame:
    """corpus_build_containment_survivors body with the stage layout
    as a knob (``session.pin``'s ``sink``; r12 verdict ask
    #4): stage_sink=None is the toy localCheckpoint layout; a path or
    table-name prefix persists each stage as parquet — replayable,
    fault-tolerant, and the downstream keep-filter pushes into the
    scan.  Both layouts are pinned by tests/test_corpus_build_plans.py."""
    from gofast_spark.text.analysis import normalize_text

    _tagged, surv = _containment_survivors(
        spark, sf_dir, stage_sink=stage_sink
    )
    norm = normalize_text("text")
    return (
        surv.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.length(norm) > 0, F.size(F.split(norm, " ")))
                .otherwise(F.lit(0))
                .cast("bigint")
            ).cast("bigint").alias("tok_sum"),
        )
        .orderBy("source")
    )


def _containment_survivors(
    spark: SparkSession, sf_dir: str, *, stage_sink: str | None = None
):
    """Shared filter -> containment-dedup stages: returns (tagged,
    survivors) so the per-source build and the flagship shard-card
    entry compose the SAME verified chain instead of re-deriving it."""
    from gofast_spark.dedup.ngram import ngram_containment_pairs
    from gofast_spark.text import corpus_filter

    # Two toy-scale plan pins (measured at sf0.1: 204 s -> ~8 s).
    # 1. _docs' repartition is transparent to Catalyst, so any filter
    #    collapses back onto the single-split scan (one core); an
    #    eager pin of the raw docs fixes the redistribution.
    # 2. `.where("keep")` inlines the ENTIRE rule chain into a Filter,
    #    where each of the six conjuncts re-derives the full signal
    #    battery (whole-stage CSE does not survive the collapsed
    #    expression tree: measured 53 s as an inlined Filter vs 4.6 s
    #    as a once-per-row projection).  Materializing the TAGGED
    #    frame first makes the verdict a stored boolean — the same
    #    tag-then-filter layout a production corpus build writes to
    #    storage between stages (stage_sink= makes that layout code).
    d, _ = pin(
        _docs(spark, sf_dir),
        "containment_build:raw",
        sink=None if stage_sink is None else f"{stage_sink}_raw",
    )
    tagged, _ = pin(
        corpus_filter(d, "text").select("doc_id", "text", "source", "keep"),
        "containment_build:tagged",
        sink=None if stage_sink is None else f"{stage_sink}_tagged",
    )
    kept = tagged.where("keep").select("doc_id", "text", "source")
    pairs = ngram_containment_pairs(
        kept, "doc_id", "text", k=3, threshold=0.8, max_df=64
    )
    drop = pairs.select(
        F.when(F.col("n_a") < F.col("n_b"), F.col("id_a"))
        .when(F.col("n_b") < F.col("n_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("doc_id")
    ).distinct()
    surv = kept.join(drop, "doc_id", "left_anti")
    return tagged, surv


@query(
    "shard_fill_report_documents",
    oracle=f"""
    WITH snorm AS (SELECT doc_id, {_norm_sql('text')} AS t FROM documents),
    tok AS (SELECT doc_id,
                   CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
            FROM snorm),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok),
    sh AS (SELECT CAST(floor((cum - n_tokens) / 2000.0) AS INT) AS shard,
                  n_tokens
           FROM c),
    per AS (SELECT shard, count(*) AS n_docs, sum(n_tokens) AS tok
            FROM sh GROUP BY shard)
    SELECT CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST(min(tok) AS BIGINT) AS min_shard_tokens,
           CAST(max(tok) AS BIGINT) AS max_shard_tokens,
           sum(tok) / (count(*) * 2000.0) AS mean_fill_ratio,
           CAST(sum(CASE WHEN tok > 2000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shards_over_budget
    FROM per
    """,
)
def shard_fill_report_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard-balance readout of the token-budget sharding
    (operators/prefix.py token_budget_shards — the two-phase
    distributed prefix sum): shard count, token mass, min/max shard
    fill, mean fill ratio against the 2000-token budget, and how many
    shards overshoot (budget binning never splits a doc, so a shard
    can exceed budget by up to one doc) — the balance report a
    packing job checks before shipping shards to trainers.  One
    shard-sized groupBy over the already-verified shard assignment,
    then a one-row fold."""
    from gofast_spark.operators import token_budget_shards
    from gofast_spark.text.analysis import normalize_text

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    out = token_budget_shards(
        tok, "doc_id", "n_tokens", budget=2000, cumsum_col="cum_tokens"
    )
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.min("tok").cast("bigint").alias("min_shard_tokens"),
        F.max("tok").cast("bigint").alias("max_shard_tokens"),
        (
            F.sum("tok").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(2000.0))
        ).alias("mean_fill_ratio"),
        F.sum((F.col("tok") > 2000).cast("int"))
        .cast("bigint")
        .alias("n_shards_over_budget"),
    )


@query(
    "corpus_flagship_card_documents",
    oracle=f"""
    WITH {_FILTER_KEEP_CTES},
    {_SHINGLE_CTES.replace("FROM documents", "FROM kept_docs")},
    rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 64),
    rsh AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON s.h = r.h),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN shh x ON x.doc_id = c.id_a
      JOIN shh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b),
    prs AS (
      SELECT i.id_a, i.id_b, sa.n_sh AS na, sb.n_sh AS nb
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.8),
    drp AS (
      SELECT DISTINCT CASE WHEN na < nb THEN id_a
                           WHEN nb < na THEN id_b
                           ELSE greatest(id_a, id_b) END AS doc_id
      FROM prs),
    surv AS (
      SELECT k.doc_id FROM kept_docs k
      LEFT JOIN drp ON drp.doc_id = k.doc_id
      WHERE drp.doc_id IS NULL),
    stok AS (
      SELECT s.doc_id,
             CAST(len(string_split(n.t, ' ')) AS BIGINT) AS n_tokens
      FROM surv s JOIN norm n ON n.doc_id = s.doc_id),
    sc AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM stok),
    per AS (
      SELECT CAST(floor((cum - n_tokens) / 2000.0) AS INT) AS shard,
             sum(n_tokens) AS tok
      FROM sc GROUP BY 1),
    shs AS (
      SELECT count(*) AS n_shards, sum(tok) AS total_tokens,
             max(tok) AS max_shard_tokens,
             sum(CASE WHEN tok > 2000 THEN 1 ELSE 0 END) AS n_over
      FROM per),
    cnts AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT count(*) FROM kept_docs) AS n_kept,
             (SELECT count(*) FROM surv) AS n_survivors)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_survivors AS BIGINT) AS n_survivors,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(n_shards AS BIGINT) AS n_shards,
           CAST(max_shard_tokens AS BIGINT) AS max_shard_tokens,
           CAST(n_over AS BIGINT) AS n_shards_over_budget,
           total_tokens / (n_shards * 2000.0) AS mean_fill_ratio
    FROM cnts, shs
    """,
)
def corpus_flagship_card_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE flagship demo of the whole LLM-data layer in one plan (r12
    verdict ask #7): ingest -> C4/Gopher composite filter (tag-then
    -filter, stage-pinned) -> exact containment dedup at 0.8 dropping
    the contained member -> token-budget sharding of the survivors
    (2000-token shards via the two-phase distributed prefix sum) ->
    one-row release card: raw/kept/survivor inventory, survivor token
    mass, shard count, max shard fill and over-budget count, mean fill
    ratio.  Every stage is individually driver-verified
    (corpus_filter_documents, corpus_build_containment_survivors,
    shard_fill_report_documents); this entry verifies the FULL chain a
    training-data release actually runs.  All counts are integers and
    the one ratio is an exact integer division — engine-exact."""
    from gofast_spark.operators import token_budget_shards
    from gofast_spark.text.analysis import normalize_text

    tagged, surv = _containment_survivors(spark, sf_dir)
    # surv feeds TWO sinks (shard/card chain + the inventory count);
    # pin it so the containment pair join replays at most once — the
    # same storage contract as the pair functions (dedup/ngram.py)
    surv, _ = pin(surv, "flagship_card:survivors")
    counts = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.col("keep").cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_kept"),
    )
    tok = surv.select(
        "doc_id",
        F.size(F.split(normalize_text("text"), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    sharded = token_budget_shards(tok, "doc_id", "n_tokens", budget=2000)
    per = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("tok"))
    card = per.agg(
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.max("tok").cast("bigint").alias("max_shard_tokens"),
        F.sum((F.col("tok") > 2000).cast("int"))
        .cast("bigint")
        .alias("n_shards_over_budget"),
        (
            F.sum("tok").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(2000.0))
        ).alias("mean_fill_ratio"),
    )
    n_surv = surv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_survivors")
    )
    return (
        counts.crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(card))
        .select(
            "n_docs", "n_kept", "n_survivors", "total_tokens",
            "n_shards", "max_shard_tokens", "n_shards_over_budget",
            "mean_fill_ratio",
        )
    )
