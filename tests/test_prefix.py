"""Distributed prefix sum + token-budget sharding (operators/prefix.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gofast_spark.operators import distributed_cumsum, token_budget_shards


def test_cumsum_matches_sequential(spark):
    rows = [(i, (i * 7) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    got = {
        r["k"]: r["cumsum"]
        for r in distributed_cumsum(df, "k", "v").collect()
    }
    run = 0
    for k, v in rows:
        run += v
        assert got[k] == run


def test_cumsum_invariant_to_partition_count(spark):
    rows = [(i, i % 5 + 1) for i in range(123)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    a = sorted(
        map(tuple, distributed_cumsum(df, "k", "v", num_partitions=2).collect())
    )
    b = sorted(
        map(tuple, distributed_cumsum(df, "k", "v", num_partitions=13).collect())
    )
    assert a == b


def test_token_shards_boundary_starts_new_shard(spark):
    # budget 10: docs of 6,6,6 tokens -> cum 6,12,18; exclusive starts
    # 0,6,12 -> shards 0,0,1
    df = spark.createDataFrame(
        [(1, 6), (2, 6), (3, 6)], "doc bigint, n bigint"
    )
    got = {
        r["doc"]: r["shard"]
        for r in token_budget_shards(df, "doc", "n", budget=10).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1}


def test_cumsum_plan_uses_range_partitioning(spark):
    """The data-leg running sum must run per range partition, never as
    one global single-partition window over the rows.  r16: the range
    exchange now executes inside the eager checkpoint that pins `part`
    (one exchange, one boundary set, both legs read it), so the
    returned plan reads the pinned RDD and windows by __pid; the only
    unpartitioned window left is the n_partitions-row offsets frame."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    out = distributed_cumsum(df, "k", "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # data-leg window is partitioned by the pinned range-partition id
    assert "windowspecdefinition(__pid" in plan
    # both legs read the checkpoint-pinned layout, not a re-derived
    # range exchange each (the old dual-exchange shape)
    assert "Scan ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_cumsum_exact_when_range_partitioner_samples(spark):
    """At 200k hash-keyed rows in 16 input partitions the RangePartitioner
    samples instead of reading every row, so two range exchanges over the
    same input may pick different boundaries; the pinned range layout is
    read by both legs, and the sum equals the single-reducer window."""
    from pyspark.sql import Window

    base = spark.range(0, 200_000, 1, 16).select(
        F.xxhash64("id").alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) + 1).alias("v"),
    )
    exact = base.withColumn(
        "c",
        F.sum("v").over(
            Window.orderBy("k").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    got = distributed_cumsum(base, "k", "v", num_partitions=32)
    joined = exact.join(got, "k")
    assert joined.count() == 200_000
    assert joined.where(F.col("c") != F.col("cumsum")).count() == 0


def test_hll_rollup_within_tolerance(spark):
    """Daily sketches unioned to a global estimate must track the exact
    distinct count (functions/sketches.py)."""
    from pyspark.sql import functions as F

    from gofast_spark.functions import distinct_rollup

    df = spark.range(20_000).select(
        (F.col("id") % 7).alias("day"),
        F.lit(0).alias("all"),
        (F.col("id") % 3001).alias("user"),
    )
    est = distinct_rollup(df, ["day"], ["all"], "user").collect()[0][
        "distinct_est"
    ]
    assert abs(est - 3001) <= 0.05 * 3001


def test_skew_report_ranks_heavy_hitters(spark):
    from pyspark.sql import functions as F

    from gofast_spark.operators import skew_report

    # key 0: 900 rows; keys 1..9: 100/9 each-ish -> key 0 dominates
    df = spark.range(1000).select(
        F.when(F.col("id") < 900, 0).otherwise(F.col("id") % 9 + 1).alias("k")
    )
    rep = skew_report(df, "k", top_k=3).collect()
    assert rep[0]["k"] == 0 and rep[0]["rank"] == 1
    assert rep[0]["n_rows"] == 900
    assert abs(rep[0]["share"] - 0.9) < 1e-9
    # 10 distinct keys, uniform would be 100 rows -> ratio 9.0
    assert abs(rep[0]["uniform_ratio"] - 9.0) < 1e-9
    assert len(rep) == 3


def test_cumsum_composite_order_key(spark):
    from pyspark.sql import functions as F

    from gofast_spark.operators import distributed_cumsum

    rows = [(i // 10, i % 10, 1) for i in range(100)]
    df = spark.createDataFrame(rows, "a bigint, b bigint, v bigint")
    out = distributed_cumsum(
        df, ["a", "b"], "v", num_partitions=7
    ).orderBy("a", "b")
    got = [r["cumsum"] for r in out.collect()]
    assert got == list(range(1, 101))
