"""Regression tests for the round-6 ADVICE findings (fixed in round 7):

1. merge_upsert: NULL delete_condition must KEEP the row (MERGE deletes
   only on TRUE), not silently drop it through ~(TRUE & NULL).
2. bpe_segment: merge symbols containing the literal substrings 'pa'/'pb'
   must not corrupt the spliced fold expression.
3. robust_scale_grouped: the stats join carries no broadcast hint; AQE
   broadcasts the stats at runtime only under the session threshold.
4. stream_merge_upsert: crash mid-swap leaves the state recoverable; the
   next sink invocation restores a complete table.
5. bloom_might_contain: the bitmap binds as ONE literal node, so large
   filters (150k words) stay inside Catalyst/codegen limits.
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_merge_upsert_null_delete_condition_keeps_row(spark):
    from gofast_spark.operators.merge_upsert import merge_upsert, source_col

    target = spark.createDataFrame(
        [Row(k=1, v=10), Row(k=2, v=20), Row(k=3, v=30)]
    )
    source = spark.createDataFrame(
        [
            Row(k=1, v=None),  # condition NULL -> must KEEP
            Row(k=2, v=100),   # condition TRUE -> delete
            Row(k=4, v=5),     # insert (condition irrelevant)
        ],
        "k int, v int",
    )
    out = merge_upsert(
        target, source, "k", delete_condition=source_col("v") > 50
    )
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert 2 not in rows, "TRUE delete condition must drop the row"
    assert rows[1] is None, "NULL delete condition must keep (and update) k=1"
    assert rows[3] == 30 and rows[4] == 5


def test_bpe_segment_symbol_containing_placeholder_substring(spark):
    from gofast_spark.text.bpe import bpe_segment

    df = spark.createDataFrame([Row(text="pbo pbo")])
    # first merge creates symbol 'pb'; second merge references it as pa —
    # the old string-replacement splice corrupted the just-inserted 'pb'
    out = bpe_segment(df, "text", ["p b", "pb o"]).collect()[0]["segmented"]
    assert out == "pbo | pbo"


def test_bpe_segment_quote_in_symbol_is_escaped(spark):
    from gofast_spark.text.bpe import bpe_segment

    df = spark.createDataFrame([Row(text="a'b")])
    # normalize_text may strip the quote; the splice must not crash even
    # if a quoted symbol reaches the SQL literal
    out = bpe_segment(df, "text", ["a b"]).collect()[0]["segmented"]
    assert isinstance(out, str)


def test_robust_scale_grouped_gate_matches_broadcast(spark):
    from gofast_spark.quality.scaling import robust_scale_grouped

    df = spark.createDataFrame(
        [Row(g=i % 3, x=float(i)) for i in range(30)]
    )
    out = robust_scale_grouped(df, ["x"], ["g"], suffix="_s")
    a = sorted(map(tuple, out.collect()))
    qe = out._jdf.queryExecution()
    # no hint (analyzed: the optimizer folds ResolvedHint into join
    # hints); AQE broadcasts the stats in the final adaptive plan
    assert "ResolvedHint" not in qe.analyzed().toString()
    assert "BroadcastHashJoin" in qe.executedPlan().executedPlan().toString()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        off = robust_scale_grouped(df, ["x"], ["g"], suffix="_s")
        b = sorted(map(tuple, off.collect()))
        plan = off._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert a == b
    assert "BroadcastHashJoin" not in plan


def test_stream_merge_upsert_recovers_from_crash_states(spark, tmp_path):
    from gofast_spark.streaming.ops import stream_merge_upsert

    table = str(tmp_path / "state")
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)

    def feed(batch, name):
        spark.createDataFrame(batch, "k int, v int, ver int").write.mode(
            "overwrite"
        ).json(os.path.join(src_dir, name))

    feed([(1, 10, 1), (2, 20, 1)], "b0")
    stream = (
        spark.readStream.schema("k int, v int, ver int")
        .json(os.path.join(src_dir, "b0"))
    )
    stream_merge_upsert(
        stream,
        table,
        "k",
        checkpoint=str(tmp_path / "cp0"),
        dedup_order_col="ver",
    )
    assert {tuple(r) for r in spark.read.parquet(table).collect()} == {
        (1, 10, 1),
        (2, 20, 1),
    }

    # simulate a crash after `table -> __old_` but before staging swap:
    # the table directory is missing, only the __old_ snapshot remains
    os.replace(table, f"{table}__old_7")
    feed([(2, 25, 2), (3, 30, 1)], "b1")
    stream2 = (
        spark.readStream.schema("k int, v int, ver int")
        .json(os.path.join(src_dir, "b1"))
    )
    stream_merge_upsert(
        stream2,
        table,
        "k",
        checkpoint=str(tmp_path / "cp1"),
        dedup_order_col="ver",
    )
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(table).collect()}
    assert got == {1: (10, 1), 2: (25, 2), 3: (30, 1)}
    # debris cleared
    assert not [p for p in os.listdir(tmp_path) if "__old_" in p]


def test_bloom_large_bitmap_single_literal(spark):
    from gofast_spark.operators.bloom import bloom_build, bloom_might_contain

    dim = spark.range(0, 200).select(F.col("id").alias("k"))
    n_bits = 64 * 20_000  # 1.28M bits: old SQL-splice built a huge tree
    bitmap = bloom_build(dim, "k", n_bits=n_bits, k=3)
    assert len(bitmap) == 20_000
    fact = spark.range(0, 2_000).select(F.col("id").alias("k"))
    passed = fact.where(bloom_might_contain("k", bitmap, k=3))
    keys = {r["k"] for r in passed.collect()}
    assert set(range(200)) <= keys
    # at this sizing false positives should be essentially nil
    assert len(keys) <= 220
