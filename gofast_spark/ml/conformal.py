"""Split-conformal prediction intervals (distribution-free coverage).

Vovk, Gammerman & Shafer, "Algorithmic Learning in a Random World"
(2005); the split form per Papadopoulos et al. 2002 and Lei et al.
JASA 2018: fit any model on a TRAIN split, take the
``ceil((n_cal + 1)(1 - alpha))``-th smallest absolute residual on a
disjoint CALIBRATION split as the interval half-width ``qhat``, and
``pred ± qhat`` covers a fresh point with probability >= 1 - alpha —
no distributional assumptions, the finite-sample guarantee production
ML teams actually want on top of any regressor.

This implementation uses a group-conditional mean as the base model
(per-group TRUNCATED micro-unit means, the repo's exact-integer
discipline) so every number in the chain — predictions, residuals, the
order statistic, test coverage — is exact 64-bit integer arithmetic,
reproducible across engines and partitionings.  Splits come from the
portable LCG id hash (``ml.selection.kfold_assign``): buckets 0..2
train, 3 calibrate, 4 test.

Scale shape: one groupBy for the model, one projection per split, and
the calibration order statistic as ``ceil`` from the TOP —
``m = n_cal - k + 1``-th LARGEST with m ≈ alpha * n_cal, so it runs as
TakeOrdered over the small upper tail, not a full sort.  At extreme
calibration sizes swap in the GK sketch (stats/prebin.percentile_expr)
— the guarantee degrades gracefully with quantile error.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.ml.selection import kfold_assign
from gofast_spark.session import pin

_U = 1_000_000


def split_conformal_group_mean(
    df: DataFrame,
    group_col: str,
    target_col: str,
    *,
    id_col: str,
    alpha: float = 0.1,
    seed: int = 0,
) -> DataFrame:
    """One row: ``(qhat, n_train, n_cal, n_test, coverage)`` —
    ``coverage`` is the share of TEST rows whose target falls inside
    ``group_mean ± qhat``; by the conformal guarantee its expectation
    is >= 1 - alpha.  Groups unseen in training fall back to the
    global train mean."""
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    y_u = (F.col(target_col).cast("double") * _U + F.lit(0.5)).cast("bigint")
    d = kfold_assign(
        df.where(
            F.col(target_col).isNotNull() & F.col(group_col).isNotNull()
        ),
        id_col, 5, seed=seed,
    ).select(
        F.col(group_col).alias("g"), y_u.alias("y"), "fold"
    )
    train = d.where(F.col("fold") <= 2)
    model = train.groupBy("g").agg(
        (F.sum("y").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mu"),
    )
    gmean = train.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("gmu"),
        F.count(F.lit(1)).alias("n_train"),
    )

    def residuals(fold: int) -> DataFrame:
        return (
            d.where(F.col("fold") == fold)
            .join(F.broadcast(model), "g", "left")
            .crossJoin(F.broadcast(gmean))
            .select(
                F.abs(
                    F.col("y") - F.coalesce(F.col("mu"), F.col("gmu"))
                ).alias("r"),
                "n_train",
            )
        )

    cal, m = pin(residuals(3), "conformal:calibration", n=F.count(F.lit(1)))
    n_cal = m["n"]
    if n_cal == 0:
        raise ValueError("empty calibration split")
    k = min(n_cal, math.ceil((n_cal + 1) * (1.0 - alpha)))
    m = n_cal - k + 1  # k-th smallest == m-th largest, m ~ alpha*n_cal
    qhat_row = (
        cal.orderBy(F.col("r").desc())
        .limit(m)
        .agg(F.min("r").alias("qhat_u"))
    )
    test = residuals(4)
    cov = test.crossJoin(F.broadcast(qhat_row)).agg(
        F.avg((F.col("r") <= F.col("qhat_u")).cast("double"))
        .alias("coverage"),
        F.count(F.lit(1)).alias("n_test"),
        F.max("n_train").alias("n_train"),
        (F.max("qhat_u").cast("double") / F.lit(float(_U))).alias("qhat"),
    )
    spark = df.sparkSession
    return cov.crossJoin(
        F.broadcast(spark.createDataFrame([(n_cal,)], "n_cal bigint"))
    ).select("qhat", "n_train", "n_cal", "n_test", "coverage")
