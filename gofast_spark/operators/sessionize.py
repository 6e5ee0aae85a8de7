"""Batch sessionization (gaps-and-islands).

``sessionize`` is the batch twin of the streaming session window
(streaming/ops.sessionized_aggregate): assign a session id to every
event — a new session starts wherever the gap to the previous same-key
event exceeds the timeout.  The classic gaps-and-islands rewrite: a
``lag`` flags session starts, a running sum of flags numbers them.
Both windows partition BY KEY, so the work distributes across keys; a
single key's history still sorts in one partition (per-key history is
the irreducible unit of sessionization).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    *,
    gap: str = "30 minutes",
    session_col: str = "session_id",
) -> DataFrame:
    """Append ``session_col``: consecutive same-key events within
    ``gap`` (INCLUSIVE — a gap exactly equal to the timeout continues
    the session) share a session; ids number sessions per key from 1 in
    time order (deterministic given unique (key, ts) pairs)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    new_session = F.when(
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("__new", new_session).withColumn(
        session_col, F.sum("__new").over(wsum)
    ).drop("__new")


def session_stats(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    *,
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-session summary: (key..., session_id, n_events, start, end,
    duration_sec) — sessionize + one aggregation."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    s = sessionize(df, keys, ts_col, gap=gap)
    return s.groupBy(*keys, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start"),
        F.max(ts_col).alias("end"),
        (
            F.unix_timestamp(F.max(ts_col))
            - F.unix_timestamp(F.min(ts_col))
        ).alias("duration_sec"),
    )


def audience_overlap(
    df: DataFrame,
    group_col: str,
    user_col: str,
) -> DataFrame:
    """Pairwise audience overlap between groups (the ad-tech /
    product-analytics audience-intersection matrix): for every
    unordered group pair, the distinct-user intersection, Jaccard
    similarity, and Szymkiewicz-Simpson overlap coefficient
    ``|A n B| / min(|A|, |B|)``.

    One distinct (group, user) projection; the intersection is a
    user-keyed self-join of that reduced frame (never raw events);
    sizes broadcast back.  Exact integer counts throughout.  Output:
    ``(g1, g2, n_common, n_g1, n_g2, jaccard, overlap_coef)``."""
    from pyspark.sql import functions as F

    gu = df.where(
        F.col(user_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"), F.col(user_col).alias("u")
    ).distinct()
    sizes = gu.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a = gu.select(F.col("g").alias("g1"), "u")
    b = gu.select(F.col("g").alias("g2"), "u")
    inter = (
        a.join(b, "u")
        .where(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("g").alias("g1"),
                                     F.col("n").alias("n_g1"))), "g1")
        .join(
            F.broadcast(sizes.select(F.col("g").alias("g2"),
                                     F.col("n").alias("n_g2"))), "g2")
    )
    return out.select(
        "g1", "g2",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_g1").cast("bigint").alias("n_g1"),
        F.col("n_g2").cast("bigint").alias("n_g2"),
        (F.col("n_common").cast("double")
         / (F.col("n_g1") + F.col("n_g2")
            - F.col("n_common")).cast("double")).alias("jaccard"),
        (F.col("n_common").cast("double")
         / F.least("n_g1", "n_g2").cast("double")).alias("overlap_coef"),
    )
