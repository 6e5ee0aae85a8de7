"""Scaling / standardization (SURVEY §2.9 math/scaling).

Reference: ``rescale_data``/``standard_scaler``/``minmax_scaler``
(gofast/utils/mathext.py:1443, 4515, 4566), ``scale_data``
(gofast/dataops/quality.py:502), ``z_scores``
(gofast/stats/descriptive.py:2356).

All are the two-pass Estimator pattern: one aggregation computes the
statistics for every column at once, then a single lazy projection applies
them — no per-column jobs, no Python in the transform.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minmax_scale(
    df: DataFrame,
    columns: Sequence[str],
    *,
    feature_range: tuple[float, float] = (0.0, 1.0),
    suffix: str = "",
) -> DataFrame:
    lo, hi = feature_range
    stats = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in columns],
        *[F.max(c).alias(f"__mx_{c}") for c in columns],
    ).first()
    out = df
    for c in columns:
        mn, mx = stats[f"__mn_{c}"], stats[f"__mx_{c}"]
        span = (mx - mn) or 1.0
        out = out.withColumn(
            f"{c}{suffix}", (F.col(c) - mn) / span * (hi - lo) + lo
        )
    return out


def standard_scale(
    df: DataFrame, columns: Sequence[str], *, ddof: int = 1, suffix: str = ""
) -> DataFrame:
    sd = F.stddev_samp if ddof == 1 else F.stddev_pop
    stats = df.agg(
        *[F.avg(c).alias(f"__mu_{c}") for c in columns],
        *[sd(c).alias(f"__sd_{c}") for c in columns],
    ).first()
    out = df
    for c in columns:
        mu, s = stats[f"__mu_{c}"], stats[f"__sd_{c}"] or 1.0
        out = out.withColumn(f"{c}{suffix}", (F.col(c) - mu) / (s if s else 1.0))
    return out


def z_scores(df: DataFrame, columns: Sequence[str], *, suffix: str = "_z") -> DataFrame:
    """Per-column z-scores as new columns (population std to match the
    reference's scipy zscore default, gofast/stats/descriptive.py:2356)."""
    return standard_scale(df, columns, ddof=0, suffix=suffix)


def robust_scale(
    df: DataFrame,
    columns: Sequence[str],
    *,
    suffix: str = "",
    with_centering: bool = True,
) -> DataFrame:
    """Median/IQR scaling (sklearn RobustScaler semantics): outliers
    dominate mean/std but barely move the quartiles, so robust scaling
    is the right normalization before outlier-sensitive downstream ops.

    Same two-pass Estimator shape as the siblings: ONE aggregation
    computes exact median + IQR for every column (Spark's ``percentile``
    aggregate — exact, no raw-table sort), then a lazy projection
    applies them.  Zero IQR (constant column) divides by 1.
    """
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs.append(F.percentile(col, 0.5).alias(f"__md_{c}"))
        aggs.append(
            (F.percentile(col, 0.75) - F.percentile(col, 0.25)).alias(
                f"__iq_{c}"
            )
        )
    stats = df.agg(*aggs).first()
    out = df
    for c in columns:
        md = stats[f"__md_{c}"] if with_centering else 0.0
        iq = stats[f"__iq_{c}"] or 1.0
        out = out.withColumn(f"{c}{suffix}", (F.col(c) - md) / iq)
    return out


def robust_scale_grouped(
    df: DataFrame,
    columns: Sequence[str],
    group_cols: Sequence[str],
    *,
    suffix: str = "",
) -> DataFrame:
    """Per-GROUP median/IQR scaling: one groupBy computes exact
    percentile stats for every (group, column), then a stats join
    applies them — normalize each segment against its own distribution
    (per-tenant/per-sensor calibration).  Zero IQR divides by 1.

    The stats join carries no hint: AQE measures the stats aggregate's
    shuffle at runtime and broadcasts it while it fits the session's
    broadcast threshold; above it — e.g. per-user calibration with 100M
    users — the join stays a shuffle join instead of a driver
    collect+broadcast OOM."""
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs.append(F.percentile(col, 0.5).alias(f"__md_{c}"))
        aggs.append(
            (F.percentile(col, 0.75) - F.percentile(col, 0.25)).alias(
                f"__iq_{c}"
            )
        )
    stats = df.groupBy(*group_cols).agg(*aggs)
    out = df.join(stats, list(group_cols))
    for c in columns:
        iq = F.col(f"__iq_{c}")
        out = out.withColumn(
            f"{c}{suffix}",
            (F.col(c) - F.col(f"__md_{c}"))
            / F.when(iq == 0, F.lit(1.0)).otherwise(iq),
        )
    return out.drop(
        *[f"__md_{c}" for c in columns], *[f"__iq_{c}" for c in columns]
    )
