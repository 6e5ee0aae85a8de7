"""Supervised categorical encoders: smoothed target encoding and WOE.

Completes the reference's encoder battery (`freq_encode` /
`label_encode` / `one_hot` are already ported from
gofast/transformers/feature_engineering.py) with the two supervised
encoders every tabular-ML pipeline reaches for:

- **Target encoding** with additive smoothing (Micci-Barreca, "A
  Preprocessing Scheme for High-Cardinality Categorical Attributes",
  SIGKDD Explorations 2001): category -> (sum_y + alpha * global_mean)
  / (n + alpha) — the shrinkage prior keeps rare categories from
  memorizing their few labels.
- **Weight of evidence**: category -> ln(P(cat | positive) /
  P(cat | negative)) with Laplace smoothing — the scorecard-modeling
  encoding whose aggregate is the repo's ``information_value``.

Scale shape: ONE groupBy over the category builds the (vocab-sized)
encoding table; the global prior is a 1-row broadcast; AQE makes the
apply join a broadcast at runtime while the vocabulary fits the
session's broadcast threshold.  No per-row Python, no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    alpha: float = 10.0,
    out_col: str | None = None,
) -> DataFrame:
    """Append the smoothed per-category target mean as ``out_col``
    (default ``{cat_col}_te``).  Null categories get the global mean
    (the fully-shrunk prior)."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    out = out_col or f"{cat_col}_te"
    y = F.col(target_col).cast("double")
    labeled = df.where(y.isNotNull())
    stats = labeled.groupBy(F.col(cat_col).alias("__cat")).agg(
        F.sum(y).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    prior = labeled.agg(
        (F.sum(y) / F.count(F.lit(1))).alias("__gm")
    )
    enc = stats.crossJoin(F.broadcast(prior)).select(
        "__cat",
        (
            (F.col("__s") + F.lit(float(alpha)) * F.col("__gm"))
            / (F.col("__n") + F.lit(float(alpha)))
        ).alias(out),
    )
    return (
        df.join(enc, df[cat_col].eqNullSafe(enc["__cat"]), "left")
        .crossJoin(F.broadcast(prior))
        .withColumn(out, F.coalesce(F.col(out), F.col("__gm")))
        .drop("__cat", "__gm")
    )


def woe_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    *,
    positive=1,
    smooth: float = 0.5,
    out_col: str | None = None,
) -> DataFrame:
    """Append the weight of evidence of ``cat_col`` against a binary
    label: ``ln((good_c + s) / (G + s*k) * (B + s*k) / (bad_c + s))``
    where G/B are global positive/negative totals and k the category
    count — the same smoothed shares ``information_value`` sums over.
    Unseen/null categories get WOE 0 (no evidence)."""
    out = out_col or f"{cat_col}_woe"
    is_pos = (F.col(label_col) == positive).cast("double")
    labeled = df.where(F.col(label_col).isNotNull())
    per = labeled.groupBy(F.col(cat_col).alias("__cat")).agg(
        F.sum(is_pos).alias("__good"),
        F.sum(1.0 - is_pos).alias("__bad"),
    )
    tot = per.agg(
        F.sum("__good").alias("__g"),
        F.sum("__bad").alias("__b"),
        F.count(F.lit(1)).alias("__k"),
    )
    s = F.lit(float(smooth))
    enc = per.crossJoin(F.broadcast(tot)).select(
        "__cat",
        F.log(
            ((F.col("__good") + s) / (F.col("__g") + s * F.col("__k")))
            / ((F.col("__bad") + s) / (F.col("__b") + s * F.col("__k")))
        ).alias(out),
    )
    return (
        df.join(enc, df[cat_col].eqNullSafe(enc["__cat"]), "left")
        .withColumn(out, F.coalesce(F.col(out), F.lit(0.0)))
        .drop("__cat")
    )


def oof_target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    key_col: str,
    *,
    n_folds: int = 5,
    seed: int = 0,
    units: float = 1e2,
    out_col: str = "te_oof",
) -> DataFrame:
    """Leakage-safe out-of-fold target encoding (Micci-Barreca, SIGKDD
    Expl. 2001, in the k-fold form every gradient-boosting pipeline
    uses): each row's category mean EXCLUDES its own fold,

        te(cat, fold) = (S_cat - s_cat,fold) / (N_cat - n_cat,fold)

    so the encoding never sees the row's own target.  ONE
    groupBy(cat, fold) of ``units``-quantized exact integer sums, a
    category-sized rollup, and a broadcast join back — the total-minus-
    fold subtraction is the same one-pass trick as cross_val_linear's
    fold Gram moments (ml/selection.py)."""
    from gofast_spark.ml.selection import kfold_assign

    t = F.col(target_col).cast("double")
    tu = F.floor(t * F.lit(units) + F.lit(0.5)).cast("bigint")
    d = kfold_assign(
        df.where(t.isNotNull()), key_col, n_folds, seed=seed,
        out_col="__fold",
    )
    per = d.groupBy(
        F.col(cat_col).alias("__cat"), F.col("__fold").alias("__f")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(tu.cast("decimal(38,0)")).alias("__s"),
    )
    tot = per.groupBy("__cat").agg(
        F.sum("__n").alias("__nt"), F.sum("__s").alias("__st")
    )
    enc = per.join(F.broadcast(tot), "__cat").select(
        "__cat", "__f",
        (
            (F.col("__st") - F.col("__s")).cast("double")
            / (F.col("__nt") - F.col("__n")).cast("double")
            / F.lit(units)
        ).alias(out_col),
    )
    return (
        d.join(
            F.broadcast(enc),
            (d[cat_col] == enc["__cat"]) & (d["__fold"] == enc["__f"]),
            "left",
        )
        .drop("__cat", "__f")
        .withColumnRenamed("__fold", "fold")
    )
