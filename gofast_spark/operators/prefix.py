"""Distributed prefix sums (global running totals without a one-task sort).

``Window.orderBy(...)`` with no partition spec funnels the whole table
through ONE reducer — fine for bounded-cardinality frames (daily
rollups), a scale-killer on raw rows.  This module implements the
classic two-phase parallel prefix sum as DataFrame ops:

1. range-repartition by the ordering key (sampled range partitioner —
   the same machinery as a distributed sort, fully parallel);
2. partition-local running sum (window PARTITIONED by the physical
   partition id — parallel);
3. per-partition totals (one tiny row per partition) turned into
   exclusive offsets with a driver-scale window, broadcast back, and
   added to the local sums.

The only global object is the offsets frame — ``n_partitions`` rows —
so the pattern holds at any corpus size.  Requires the ordering key to
be globally unique (ties across partition boundaries would make the
result depend on partition placement); pass a composite key as a struct
column if needed.

Built on top: :func:`token_budget_shards` — assign documents to
training shards by cumulative token budget, the "pack the corpus into
N-token shards" step of an LLM data build.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin


def distributed_cumsum(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    *,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive running sum of ``value_col`` in ``order_col`` order,
    computed with the two-phase parallel scan above — no single-reducer
    global window anywhere in the plan.  ``order_col`` may be a list for
    composite ordering keys (e.g. ``["l_orderkey", "l_linenumber"]``);
    the COMBINATION must be globally unique."""
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # `part` feeds BOTH the local-window leg and the per-partition
    # totals leg.  Left lazy, the static plan gave each leg its OWN
    # range exchange (plan-verified: two rangepartitioning nodes, the
    # whole upstream scanned twice) — and, worse, each RangePartitioner
    # samples with an RDD-id-derived seed, so on inputs large enough
    # for partial sampling the two legs can pick DIFFERENT boundaries,
    # making `__pid` disagree between the rows and the offsets — a
    # latent wrong-cumsum hazard that small, fully-sampled inputs never
    # trigger.  One pin fixes a single exchange and a single boundary
    # set: exact by construction at any scale, and the upstream is
    # scanned once instead of twice.
    part, _ = pin(
        df.repartitionByRange(n, *[F.col(c) for c in order])
        .withColumn("__pid", F.spark_partition_id()),
        "cumsum:range",
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("__local", F.sum(value_col).over(w_local))
    # one row per partition; the offsets window runs over n rows, not N
    # (computed from `part`, not `local`, so the branch skips the window)
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "__off", F.sum("__tot").over(w_off) - F.col("__tot")
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__pid", "__local", "__off")
    )


def token_budget_shards(
    df: DataFrame,
    order_col: str,
    tokens_col: str | Column,
    *,
    budget: int,
    shard_col: str = "shard",
    cumsum_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training shard by cumulative token
    budget: shard k holds the documents whose running token count
    (exclusive of the document itself) falls in ``[k*budget,
    (k+1)*budget)`` — deterministic in ``order_col`` order.

    This is budget BINNING, not bin PACKING: a document straddling a
    boundary starts the next shard (greedy first-fit packing has a
    sequential dependence that does not distribute; boundary-start
    binning is the standard scalable compromise and overshoots each
    shard by at most one document).  ``cumsum_col`` additionally keeps
    the inclusive running token total in the output."""
    tcol = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    tmp = df.withColumn("__tok", tcol)
    out = distributed_cumsum(tmp, order_col, "__tok", out_col="__cum")
    out = out.withColumn(
        shard_col,
        F.floor((F.col("__cum") - F.col("__tok")) / F.lit(budget)).cast(
            "int"
        ),
    )
    if cumsum_col:
        out = out.withColumn(cumsum_col, F.col("__cum"))
    return out.drop("__tok", "__cum")
