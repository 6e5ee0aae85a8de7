"""DSIR-style importance resampling for LLM training-data selection.

Xie, Santurkar, Ma, Liang — "Data Selection for Language Models via
Importance Resampling" (NeurIPS 2023).  Select raw-corpus documents
whose hashed-token bucket distribution looks like a (small, curated)
target corpus:

1. featurize both corpora with the stateless hashing trick
   (:mod:`gofast_spark.text.features` — ``char_hash(token) mod dim``
   bucket counts; no vocabulary, identical on any corpus subset);
2. fit add-alpha-smoothed bucket unigram distributions ``p_target`` /
   ``p_raw`` — two dim-sized aggregates;
3. per-doc importance log-weight
   ``log w(x) = sum_b c_b(x) * (log p_target[b] - log p_raw[b])``;
4. sample without replacement via the Gumbel top-k trick: the k
   largest ``log w + Gumbel(0,1)`` are a weighted sample without
   replacement.  The Gumbel noise is derived from the engine-portable
   per-doc uniform hash (:func:`gofast_spark.operators.mixture.
   uniform_hash`), so selection is deterministic and reproducible
   across engines — the differential-oracle property every operator
   in this repo keeps.

Scale: the bucket log-ratio frame is dim-sized and broadcast into the
sparse-feature join; the weight pass is one groupBy over (doc, cell)
rows; top-k plans as TakeOrderedAndProject.  Nothing is collected to
the driver — featurizing 100 TB stays one scan + one bounded shuffle.

``llr_micro=True`` quantizes the per-bucket log-ratio to integer
micro-units (round(llr * 1e6)) so the per-doc weight is an EXACT
integer sum — bit-identical in any engine regardless of float
summation order (the integer micro-unit trick the money aggregates
use).

Reference parity: net-new surface (builder brief: training-data
pipeline operators); the reference has no data-selection operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gofast_spark.operators.mixture import _U_BUCKETS, uniform_hash
from gofast_spark.session import pin
from gofast_spark.text.features import hashed_tf_sparse

_MICRO = 1_000_000


def bucket_log_ratio(
    raw_tf: DataFrame,
    target_tf: DataFrame,
    *,
    dim: int,
    alpha: float = 1.0,
    llr_micro: bool = False,
) -> DataFrame:
    """(cell, llr): per-bucket log p_target - log p_raw over the FULL
    0..dim-1 domain (absent buckets get the add-alpha floor).  Inputs
    are sparse (id, cell, tf) frames from :func:`hashed_tf_sparse`.

    With ``llr_micro`` the ratio is an integer micro-unit column
    ``llr_micro`` instead (exact downstream sums)."""
    spark = raw_tf.sparkSession
    domain = spark.range(dim).select(F.col("id").cast("bigint").alias("cell"))

    def _dist(tf: DataFrame, name: str) -> DataFrame:
        counts = tf.groupBy("cell").agg(F.sum("tf").alias("__c"))
        total = counts.agg(F.sum("__c").alias("__tot"))
        return (
            domain.join(counts, "cell", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "cell",
                F.log(
                    (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__tot") + F.lit(alpha * dim))
                ).alias(name),
            )
        )

    out = (
        _dist(target_tf, "__lt")
        .join(_dist(raw_tf, "__lr"), "cell")
        .select("cell", (F.col("__lt") - F.col("__lr")).alias("llr"))
    )
    if llr_micro:
        out = out.select(
            "cell",
            F.round(F.col("llr") * _MICRO).cast("bigint").alias("llr_micro"),
        )
    return out


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame | None = None,
    *,
    target_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    alpha: float = 1.0,
    llr_micro: bool = False,
) -> DataFrame:
    """(id, logw) importance log-weights for every raw doc with >= 1
    token (token-less docs have no features, hence no weight — absent,
    matching the sparse featurizer's contract).

    Target corpus: pass ``target`` (an independent frame, featurized
    separately) OR ``target_ids`` (a 1-column id frame naming the
    target SUBSET of ``raw`` — the common case; the corpus is then
    tokenized/hashed ONCE and the target counts come from a semi-join
    on the already-computed features).

    The raw feature frame feeds the raw distribution, possibly the
    target distribution, and the weight aggregate; it is pinned so the
    tokenize+hash pass runs once.

    With ``llr_micro`` the output column is ``logw_micro`` (bigint,
    micro-units): an exact integer aggregate, engine-reproducible
    bit-for-bit."""
    if (target is None) == (target_ids is None):
        raise ValueError("pass exactly one of target / target_ids")
    raw_tf, _ = pin(
        hashed_tf_sparse(raw, id_col=id_col, text_col=text_col, dim=dim),
        "dsir:raw_tf",
    )
    if target_ids is not None:
        tgt_tf = raw_tf.join(
            target_ids.select(F.col(id_col).alias("__tid")),
            F.col(id_col) == F.col("__tid"),
            "left_semi",
        )
    else:
        tgt_tf = hashed_tf_sparse(
            target, id_col=id_col, text_col=text_col, dim=dim
        )
    ratio = bucket_log_ratio(
        raw_tf, tgt_tf, dim=dim, alpha=alpha, llr_micro=llr_micro
    )
    ratio_col = "llr_micro" if llr_micro else "llr"
    out_col = "logw_micro" if llr_micro else "logw"
    return (
        raw_tf.join(F.broadcast(ratio), "cell")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col(ratio_col)).alias(out_col))
    )


def gumbel_noise(id_col: str | Column, *, seed: int = 42) -> Column:
    """Deterministic Gumbel(0,1) draw per id: ``-ln(-ln(u))`` with the
    portable uniform ``u`` shifted half a bucket off 0 so the log never
    sees an exact zero."""
    u = uniform_hash(id_col, seed=seed) + F.lit(0.5 / _U_BUCKETS)
    return -F.log(-F.log(u))


def dsir_resample(
    raw: DataFrame,
    target: DataFrame | None = None,
    *,
    target_ids: DataFrame | None = None,
    k: int,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    alpha: float = 1.0,
    llr_micro: bool = False,
) -> DataFrame:
    """Weighted sample WITHOUT replacement of ``k`` raw docs, biased
    toward the target distribution: top-k of ``logw + Gumbel``.

    Deterministic given ``seed``.  Returns (id, logw[, _micro],
    key[, _micro]) — the key column keeps the selection auditable.
    Plans as TakeOrderedAndProject (no global sort materialized)."""
    w = dsir_logweights(
        raw,
        target,
        target_ids=target_ids,
        id_col=id_col,
        text_col=text_col,
        dim=dim,
        alpha=alpha,
        llr_micro=llr_micro,
    )
    g = gumbel_noise(id_col, seed=seed)
    if llr_micro:
        key = (
            F.col("logw_micro")
            + F.round(g * _MICRO).cast("bigint")
        ).alias("key_micro")
        order = [F.col("key_micro").desc(), F.col(id_col)]
    else:
        key = (F.col("logw") + g).alias("key")
        order = [F.col("key").desc(), F.col(id_col)]
    return w.select("*", key).orderBy(*order).limit(k)
