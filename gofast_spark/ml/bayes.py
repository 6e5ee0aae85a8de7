"""Gaussian Naive Bayes as one moment aggregation + codegen scoring.

Mirrors the reference's sklearn-style estimator surface
(``gofast/estimators/`` — GNB appears via the sklearn delegation in its
benchmark/cluster-based classifiers) in the distributed closed form:
TRAINING is one groupBy(class) aggregate (per-class count + per-feature
sum / sum-of-squares -> priors, means, variances), SCORING is a pure
projection of the log-likelihood

    ln P(c) + sum_f [ -0.5 ln(2 pi var_fc) - (x_f - mu_fc)^2 / (2 var_fc) ]

with the class argmax as a fixed-order greatest-of comparison — no
iteration, no UDF, one data pass each way.  Variance smoothing follows
sklearn's ``var_smoothing`` convention (epsilon = 1e-9 * max feature
variance) so degenerate constant features can't produce infinities.

All driver-side arithmetic is plain IEEE double in deterministic
(sorted-class, listed-feature) order, so a SQL oracle can replay the
exact expression tree.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin


def fit_gaussian_nb(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
) -> dict:
    """One aggregation pass -> ``{"classes": [...], "priors": {c: p},
    "means": {c: [...]}, "vars": {c: [...]}, "n": total}``.

    Population variances (sum(x^2)/n - mean^2, the ML estimate sklearn
    uses) plus the var_smoothing epsilon; classes sorted for
    deterministic downstream order."""
    feats = list(feature_cols)
    cond = F.col(label_col).isNotNull()
    for c in feats:
        cond = cond & F.col(c).isNotNull()
    d = df.where(cond)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(feats):
        x = F.col(c).cast("double")
        aggs.append(F.sum(x).alias(f"s_{i}"))
        aggs.append(F.sum(x * x).alias(f"q_{i}"))
    rows = {r[label_col]: r
            for r in d.groupBy(label_col).agg(*aggs).collect()}
    classes = sorted(rows)
    if not classes:
        raise ValueError("no complete rows to fit on")
    total = sum(int(rows[c]["n"]) for c in classes)
    means, variances, priors = {}, {}, {}
    for c in classes:
        r = rows[c]
        n = float(r["n"])
        priors[c] = n / total
        means[c] = [float(r[f"s_{i}"]) / n for i in range(len(feats))]
        variances[c] = [
            float(r[f"q_{i}"]) / n - means[c][i] * means[c][i]
            for i in range(len(feats))
        ]
    # sklearn's var_smoothing: 1e-9 * largest per-feature pooled variance
    max_var = max(
        (variances[c][i] for c in classes for i in range(len(feats))),
        default=0.0,
    )
    eps = 1e-9 * max_var if max_var > 0 else 1e-9
    for c in classes:
        variances[c] = [v + eps for v in variances[c]]
    return {
        "classes": classes,
        "priors": priors,
        "means": means,
        "vars": variances,
        "features": feats,
        "n": total,
    }


def predict_gaussian_nb(
    df: DataFrame,
    model: dict,
    *,
    out_col: str = "prediction",
) -> DataFrame:
    """Append the argmax-log-likelihood class — pure column arithmetic
    (one literal-folded expression per class), ties broken by the FIRST
    class in sorted order (strict ``>`` comparison chain), so the
    result is a deterministic function of the model."""
    feats = model["features"]
    lls = []
    for c in model["classes"]:
        ll = F.lit(math.log(model["priors"][c]))
        for i, f in enumerate(feats):
            mu = model["means"][c][i]
            var = model["vars"][c][i]
            x = F.col(f).cast("double")
            ll = (
                ll
                + F.lit(-0.5 * math.log(2.0 * math.pi * var))
                - (x - F.lit(mu)) * (x - F.lit(mu)) / F.lit(2.0 * var)
            )
        lls.append((c, ll))
    # fixed-order argmax: keep class c only if its ll is strictly greater
    # than every earlier class's and >= every later class's
    best_cls, best_ll = lls[0]
    pred = F.lit(best_cls)
    best = best_ll
    for c, ll in lls[1:]:
        pred = F.when(ll > best, F.lit(c)).otherwise(pred)
        best = F.when(ll > best, ll).otherwise(best)
    return df.withColumn(out_col, pred)


def multinomial_nb_predictions(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    *,
    units: int = 10**6,
) -> DataFrame:
    """Multinomial naive Bayes text classification (McCallum & Nigam,
    AAAI-98 workshop; the standard bag-of-words NB) fit on ``train``
    and scored on ``test`` — entirely as DataFrame algebra:

        score(d, c) = ln P(c) + sum_t n_dt * ln( (n_ct + 1) / (N_c + V) )

    with add-one (Laplace) smoothing.  TRAINING is one explode +
    groupBy (the vocab-class count table) plus class-sized rollups;
    SCORING left-joins the test term counts against the count table
    per class and reduces per (doc, class) — every log-probability is
    quantized to ``units`` integers first, so the per-doc sums are
    EXACT bigints (partition- and engine-reproducible) and the argmax
    tie-break (max score, then lexicographic class) is total.  Returns
    ``(id, label, predicted)`` for every non-empty test document."""
    from pyspark.sql import Window

    from gofast_spark.text.analysis import normalize_text

    u = float(units)
    norm = normalize_text(text_col)

    tr = train.where(F.length(norm) > 0).select(
        F.col(label_col).alias("cls"), F.split(norm, " ").alias("tk")
    )
    # materialize the vocab-class count table ONCE: ct, vocab and the
    # scoring join all consume it, and each broadcast materialization
    # otherwise replays the train tokenize+explode chain (guide §1.2 —
    # the count tables are vocabulary-sized, the lineage is corpus-sized)
    tcc, _ = pin(
        tr.select("cls", F.explode("tk").alias("token"))
        .groupBy("cls", "token").agg(F.count(F.lit(1)).alias("n_ct")),
        "nb:token_counts",
    )
    ct = tcc.groupBy("cls").agg(F.sum("n_ct").alias("n_c"))
    vocab = tcc.agg(F.countDistinct("token").alias("v"))
    # one normalize pass for the class-sized doc counts; n_train derives
    # from the materialized table instead of a second corpus scan
    cls_docs, _ = pin(
        tr.groupBy("cls").agg(F.count(F.lit(1)).alias("n_docs")),
        "nb:class_docs",
    )
    pri = (
        cls_docs
        .crossJoin(F.broadcast(
            cls_docs.agg(F.sum("n_docs").alias("n_train"))))
        .select(
            "cls",
            F.floor(
                F.log(F.col("n_docs").cast("double")
                      / F.col("n_train").cast("double"))
                * F.lit(u) + F.lit(0.5)
            ).cast("bigint").alias("prior_u"),
        )
    )

    te = test.where(F.length(norm) > 0).select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label"),
        F.explode(F.split(norm, " ")).alias("token"),
    ).groupBy("id", "label", "token").agg(
        F.count(F.lit(1)).alias("n_dt")
    )

    # every (test token) x (class): class table is tiny, broadcast
    scored = (
        te.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(vocab))
        .join(tcc, ["cls", "token"], "left")
        .select(
            "id", "label", "cls", "n_dt",
            F.floor(
                F.log(
                    (F.coalesce(F.col("n_ct"), F.lit(0)) + F.lit(1))
                    .cast("double")
                    / (F.col("n_c") + F.col("v")).cast("double")
                ) * F.lit(u) + F.lit(0.5)
            ).cast("bigint").alias("logp_u"),
        )
    )
    per_dc = scored.groupBy("id", "label", "cls").agg(
        F.sum(F.col("n_dt") * F.col("logp_u")).alias("__s")
    ).join(F.broadcast(pri), "cls").select(
        "id", "label", "cls",
        (F.col("__s") + F.col("prior_u")).alias("score_u"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score_u").desc(), F.col("cls").asc()
    )
    return (
        per_dc.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("id", "label", F.col("cls").alias("predicted"))
    )
