"""Structured Streaming surface: micro-batch replay must equal the batch
answer; streaming dedup suppresses within-watermark duplicates; each
drain's state store is sized to the cores."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def test_stream_window_equals_batch(spark, sf_small):
    from gofast_spark.plans.catalog import QUERIES

    out = QUERIES["streaming_window_counts"](spark, sf_small)
    got = {(r["day"], r["event_type"]): r["n"] for r in out.collect()}
    # independent batch computation of the same windows
    from gofast_spark.plans.catalog import _t

    e = _t(spark, sf_small, "events")
    ref = (
        e.groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r["day"], r["event_type"]): r["n"] for r in ref}
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    import pandas as pd

    from gofast_spark.streaming import run_available_now, stream_dedup
    from gofast_spark.streaming.ops import EVENTS_RAW_SCHEMA

    base = 1_700_000_000_000_000_000  # nanos epoch
    rows = [
        (1, base, 10, "click", 1.0, ""),
        (1, base + 60_000_000_000, 10, "click", 1.0, ""),  # dup event_id, +60s
        (2, base + 120_000_000_000, 11, "view", 2.0, ""),
    ]
    pdf = pd.DataFrame(rows, columns=[f.name for f in EVENTS_RAW_SCHEMA.fields])
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf, EVENTS_RAW_SCHEMA).write.parquet(src)

    sdf = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    deduped = stream_dedup(sdf, ["event_id"], watermark="1 hour")
    out = run_available_now(deduped, mode="append")
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_stateful_running_totals_equals_batch(spark, tmp_path):
    """applyInPandasWithState running totals: after draining a multi-file
    stream (maxFilesPerTrigger=1 forces several micro-batches so state
    genuinely carries across batches), the last emitted row per key must
    equal the batch groupBy aggregate — exactly-once parity."""
    import pandas as pd

    from gofast_spark.streaming import run_available_now
    from gofast_spark.streaming.ops import (
        EVENTS_RAW_SCHEMA,
        stateful_running_totals,
    )

    base = 1_700_000_000_000_000_000
    cols = [f.name for f in EVENTS_RAW_SCHEMA.fields]
    batch1 = [(i, base + i * 10**9, i % 3, "click", float(i), "") for i in range(30)]
    batch2 = [(100 + i, base + (100 + i) * 10**9, i % 3, "view", float(i) * 2, "") for i in range(20)]
    src = str(tmp_path / "stateful_src")
    spark.createDataFrame(pd.DataFrame(batch1, columns=cols), EVENTS_RAW_SCHEMA).write.parquet(src)
    spark.createDataFrame(pd.DataFrame(batch2, columns=cols), EVENTS_RAW_SCHEMA).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_available_now(
        stateful_running_totals(sdf, "user_id", "value"), mode="update"
    )
    # update mode appends one row per key per micro-batch; the row with
    # the max n per key is the final state
    final = {}
    for r in out.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n"] > cur["n"]:
            final[r["user_id"]] = r

    batch = (
        spark.read.parquet(src)
        .groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("vmax"),
        )
        .collect()
    )
    want = {r["user_id"]: r for r in batch}
    assert set(final) == set(want)
    for k in want:
        assert final[k]["n"] == want[k]["n"]
        assert final[k]["total"] == pytest.approx(want[k]["total"])
        assert final[k]["vmax"] == pytest.approx(want[k]["vmax"])
    # state really crossed micro-batches: some key must have been emitted
    # at least twice with growing n
    per_key_rows = {}
    for r in out.collect():
        per_key_rows.setdefault(r["user_id"], []).append(r["n"])
    assert any(len(v) > 1 for v in per_key_rows.values())


def test_write_stream_to_warehouse_exactly_once(spark, tmp_path, sf_small):
    """foreachBatch parquet sink: drained availableNow output equals the
    batch read, and re-draining with the same checkpoint writes nothing
    new (offsets committed -> exactly-once)."""
    from gofast_spark.streaming import read_event_stream, write_stream_to_warehouse

    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, sf_small, glob="events.parquet").select(
        "event_id", "event_type", "value"
    )
    write_stream_to_warehouse(stream, out, checkpoint=ckpt)

    batch = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .select("event_id")
        .count()
    )
    sunk = spark.read.parquet(out)
    assert sunk.count() == batch
    assert "__batch_id" in sunk.columns

    # replay with the same checkpoint: no new batches, count unchanged
    stream2 = read_event_stream(spark, sf_small, glob="events.parquet").select(
        "event_id", "event_type", "value"
    )
    write_stream_to_warehouse(stream2, out, checkpoint=ckpt)
    assert spark.read.parquet(out).count() == batch


def test_streaming_token_counts_match_batch(spark, sf_small):
    from gofast_spark.plans.catalog import _t
    from gofast_spark.streaming import (
        read_document_stream,
        run_available_now,
        streaming_token_counts,
    )
    from gofast_spark.text.analysis import normalize_text
    from pyspark.sql import functions as F

    stream = read_document_stream(spark, sf_small, glob="documents.parquet")
    got = {
        (r.term, r.n)
        for r in run_available_now(
            streaming_token_counts(stream), mode="complete"
        ).collect()
    }
    batch = (
        _t(spark, sf_small, "documents")
        .select(F.explode(F.split(normalize_text("text"), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    assert got == {(r.term, r.n) for r in batch.collect()}


class _StatePartitions(StreamingQueryListener):
    """Records ``numShufflePartitions`` of every state operator in every
    micro-batch progress."""

    def __init__(self) -> None:
        self.parts: list[int] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.parts += [o.numShufflePartitions
                       for o in event.progress.stateOperators or []]

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@pytest.mark.parametrize(
    "name", ["streaming_window_counts", "stream_dedup_events"]
)
def test_drain_state_partitions_sized_to_cores(spark, sf_small, name):
    """Each drain's state store runs min(shuffle.partitions,
    defaultParallelism) partitions (complete mode through foreachBatch,
    append mode through the memory sink), and the session keeps its
    own value."""
    from gofast_spark.plans.catalog import QUERIES

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        QUERIES[name](spark, sf_small).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get(key) == before
    want = min(int(before), spark.sparkContext.defaultParallelism)
    assert listener.parts and set(listener.parts) == {want}


def test_drain_restores_partitions_when_start_raises(spark, sf_small):
    """``complete`` mode without an aggregation fails in ``start()``; the
    session's shuffle partitions read the same afterwards."""
    from pyspark.errors import AnalysisException

    from gofast_spark.streaming import read_event_stream, run_available_now

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = read_event_stream(spark, sf_small, glob="events.parquet")
    with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
        run_available_now(stream.select("event_id"), mode="complete")
    assert spark.conf.get(key) == before


def test_drain_leaves_no_checkpoint_behind(spark, sf_small, tmp_path, monkeypatch):
    """A drain's checkpoint is removed whether ``start()`` fails or the
    drain succeeds.  Python's and the JVM's temp dirs both point at
    ``tmp_path`` for the test, so a checkpoint left by either side shows:
    Spark names its own temporary checkpoints ``temporary-*``, the drain
    names its ``drain-*`` (the JVM also unpacks native libraries and a
    session artifact directory there on first use)."""
    import tempfile

    from pyspark.errors import AnalysisException

    from gofast_spark.streaming import read_event_stream, run_available_now

    def checkpoints():
        return [
            p.name for p in tmp_path.iterdir()
            if p.name.startswith(("temporary-", "drain-"))
        ]

    system = spark.sparkContext._jvm.java.lang.System
    jvm_tmp = system.getProperty("java.io.tmpdir")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    system.setProperty("java.io.tmpdir", str(tmp_path))
    try:
        stream = read_event_stream(spark, sf_small, glob="events.parquet")
        with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
            run_available_now(stream.select("event_id"), mode="complete")
        assert checkpoints() == []
        out = run_available_now(
            stream.groupBy("event_type").count(), mode="complete"
        )
        assert out.count() > 0
        assert checkpoints() == []
    finally:
        system.setProperty("java.io.tmpdir", jvm_tmp)
