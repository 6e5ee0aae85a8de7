"""Streaming operators over the events schema.

Structured Streaming shares Catalyst with batch, so these return the same
lazy DataFrames the batch operators do — watermarks bound state, windows
aggregate event-time, ``availableNow`` drains a source as a sequence of
micro-batches and terminates (the deterministic replay mode the tests and
the correctness catalog use; a live job just swaps the trigger).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from gofast_spark.session import pin

# events.parquet schema with ts as raw nanos (the TIMESTAMP(NANOS)
# testdata generation; sources.events sets the legacy conf lazily)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """File-source stream of the events table (schema mandatory for
    streaming reads).

    The physical ``ts`` encoding has varied across testdata generations
    (TIMESTAMP(NANOS) read as long nanos via the lazily-set legacy conf,
    timestamp[us] isAdjustedToUTC=0 read as TIMESTAMP_NTZ, plain UTC
    timestamp), so probe the batch reader's resolved schema first — a
    driver-side footer-only metadata read through
    :func:`gofast_spark.sources.events.read_events_batch`, which
    self-heals the NANOS case — and declare the matching stream schema,
    converting to a proper TimestampType inline whichever way the files
    are encoded.  Only a genuinely empty/missing source falls back to the
    current generator convention; other probe errors propagate (ADVICE
    r5: a swallowed nanos error used to mis-declare NTZ)."""
    from pyspark.errors import AnalysisException

    from gofast_spark.sources.events import read_events_batch

    try:
        ts_type = read_events_batch(spark, path, glob=glob).schema["ts"].dataType
    except AnalysisException as e:
        msg = str(e)
        if not (
            "PATH_NOT_FOUND" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Unable to infer schema" in msg
        ):
            raise
        # initially-empty source directory (the normal start state for a
        # live file stream): no footer to probe, so declare the current
        # generator convention (timestamp[us] NTZ) and let the NTZ branch
        # below normalize; files arriving later must match this schema,
        # as with any declared streaming schema
        ts_type = TimestampNTZType()

    fields = [
        StructField("event_id", LongType()),
        StructField("ts", ts_type),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
    reader = spark.readStream.schema(StructType(fields))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)
    from gofast_spark.sources.events import normalize_event_ts

    return normalize_event_ts(df)


def windowed_aggregate(
    sdf: DataFrame,
    ts_col: str,
    window: str,
    *,
    slide: str | None = None,
    watermark: str | None = None,
    group_cols: Sequence[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation.

    ``watermark`` (e.g. ``'1 hour'``) bounds state for late data; without
    it only ``complete`` output mode is valid.  ``aggs`` maps column ->
    sum/avg/min/max/count (aliased ``col_fn``).
    """
    out = sdf
    if watermark:
        out = out.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    spec = aggs or {"*": "count"}
    agg_cols = []
    for c, fn in spec.items():
        if fn == "count":
            agg_cols.append(F.count(F.lit(1)).alias("n" if c == "*" else f"{c}_count"))
        else:
            agg_cols.append(getattr(F, fn)(F.col(c)).alias(f"{c}_{fn}"))
    return out.groupBy(win.alias("w"), *[F.col(c) for c in group_cols]).agg(*agg_cols)


def sessionized_aggregate(
    sdf: DataFrame,
    ts_col: str,
    gap: str,
    *,
    watermark: str = "1 hour",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Session windows (gap-based) per group — counts and span per session."""
    out = sdf.withWatermark(ts_col, watermark)
    return out.groupBy(
        F.session_window(F.col(ts_col), gap).alias("w"),
        *[F.col(c) for c in group_cols],
    ).agg(F.count(F.lit(1)).alias("n"))


def stream_dedup(
    sdf: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark horizon are suppressed; state older than the horizon is
    evicted — the streaming analog of ``handle_duplicates('drop')``."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_available_now(
    sdf: DataFrame, *, mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drain the stream with the ``availableNow`` trigger and return the
    materialized result as a batch DataFrame — deterministic micro-batch
    replay for tests and the correctness gate.

    ``complete`` mode (the big-state drains: the (doc, shingle) index
    grids are 100s of thousands of rows) captures the FINAL micro-batch
    through ``foreachBatch`` + ``session.pin``: the state stays on
    the executors.  The previous memory-sink layout collected every grid
    row to the driver and re-shipped the whole LocalTableScan to the
    executors on EVERY downstream job — exactly the driver-as-data-plane
    shape guide §5 forbids (measured at sf0.1: the flagship drain's
    driver round-trip was ~10% of the query; the re-ship multiplied per
    downstream join).  ``append``/``update`` keep the memory sink: their
    result is the concatenation of per-batch emissions (small by
    construction in this catalog), not a last-batch snapshot.

    State partitions: each drain starts with ``spark.sql.shuffle.partitions``
    lowered to ``min(<session value>, sparkContext.defaultParallelism)``,
    set just before ``start()`` and restored in a ``finally`` as soon as
    ``start()`` returns or raises.  Spark disables AQE for stateful
    queries, so the static count is the number of state-store tasks,
    delta-file commits and loads per stateful operator per micro-batch;
    at 32 on four cores that per-task overhead, not the operator work,
    dominated the drains.  The count is read once at ``start()`` and
    frozen into the query's checkpoint, which is safe to size per drain
    here because every drain gets a fresh checkpoint that is never
    restarted: a ``tempfile.mkdtemp()`` directory, removed in a
    ``finally`` however the drain ends (Spark removes its own temporary
    checkpoint only when the query did not fail).  Another thread that
    plans a query on the same session while ``start()`` runs sees the
    lowered value.  The sinks
    that take a caller's checkpoint (:func:`write_stream_to_warehouse`,
    :func:`stream_merge_upsert`, :func:`stream_dedup_index_upsert`)
    deliberately keep the session value: their checkpoint freezes it
    across restarts."""
    qname = name or f"q_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    writer = (
        sdf.writeStream.queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    holder: dict[str, DataFrame] = {}
    if mode == "complete":

        def _capture(batch_df: DataFrame, _batch_id: int) -> None:
            # complete mode re-emits the FULL state every batch; only the
            # last snapshot matters.  Pin it executor-side; earlier
            # snapshots are released by the ContextCleaner when replaced.
            holder["df"], _ = pin(batch_df, "stream:last_batch")

        writer = writer.foreachBatch(_capture)
    else:
        writer = writer.format("memory")
    key = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(key)
    parts = min(int(session_parts), spark.sparkContext.defaultParallelism)
    ckpt = tempfile.mkdtemp(prefix="drain-")
    try:
        spark.conf.set(key, str(parts))
        try:
            q = writer.option("checkpointLocation", ckpt).start()
        finally:
            spark.conf.set(key, session_parts)
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if mode != "complete":
        return spark.table(qname)
    if "df" not in holder:  # source had no data: zero micro-batches
        return spark.createDataFrame([], sdf.schema)
    return holder["df"]


def stateful_running_totals(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum, max) maintained across micro-batches, one
    updated row emitted per key per batch.

    This is the escape hatch for stateful semantics the built-in window /
    dedup operators can't express (running totals, CUSUM-style monitors,
    per-entity counters).  State is a single fixed-width row per key —
    bounded by key cardinality, partitioned by the grouping key, so it
    scales horizontally like any keyed stream.  Exactly-once parity with
    the batch aggregate is asserted in tests/test_streaming.py: after an
    ``availableNow`` drain over multi-file input, the last emitted row
    per key equals ``groupBy(key).agg(count, sum, max)``.

    Reference: streaming analog of the descriptive aggregate family
    (gofast/stats/descriptive.py) — net-new surface per the builder
    brief ("applyInPandasWithState for custom stateful operators").
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            n, total, vmax = state.get
        else:
            n, total, vmax = 0, 0.0, None
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += int(len(pdf))
            if len(vals):
                total += float(vals.sum())
                m = float(vals.max())
                vmax = m if vmax is None else max(vmax, m)
        state.update((n, total, vmax))
        yield pd.DataFrame(
            {key_col: [str(key[0])], "n": [n], "total": [total], "vmax": [vmax]}
        )

    return sdf.groupBy(F.col(key_col).cast("string").alias(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_document_stream(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """File-source stream of the documents table (streaming corpus
    ingestion).  Unlike events there is only one physical encoding, so
    the schema is declared directly."""
    fields = [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
    reader = spark.readStream.schema(StructType(fields))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def streaming_token_counts(
    sdf: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """Incrementally maintained corpus term frequencies: the streaming
    analog of the BM25 postings build (text/bm25.py), for corpora that
    arrive as a feed rather than a snapshot.

    Tokens are exploded per micro-batch (stateless, scan-shaped work)
    and the groupBy keeps ONE running counter per term — state is
    vocab-sized, not corpus-sized, so a 100-TB ingest holds the same
    few-million-row state as a 1-GB one.  Complete/update output modes
    both work; drain with availableNow for deterministic replay."""
    from gofast_spark.text.analysis import normalize_text

    toks = sdf.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    return toks.groupBy("term").agg(F.count("*").alias("n"))


def stream_static_enrich(
    sdf: DataFrame,
    static_df: DataFrame,
    on,
    *,
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: enrich a stream with a slowly-changing
    dimension frame.

    The static side is re-read per micro-batch by Structured Streaming
    (so a refreshed dimension table is picked up automatically); the
    dimension is broadcast to executors instead of shuffling the stream — the streaming analog of the engine's
    broadcast-dimension policy.  Stateless: no watermark needed, any
    output mode.  Only stream-side outer joins are allowed by Spark for
    stream-static shapes (the static side has no watermark to close on).
    """
    return sdf.join(F.broadcast(static_df), on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    ts_col: str = "ts",
    watermark: str = "1 day",
    lower_bound: str = "0 seconds",
    upper_bound: str = "12 hours",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Watermarked stream-stream inner join with a time-range condition.

    Matches right-side rows whose event time falls in
    ``[left.ts + lower_bound, left.ts + upper_bound]`` for the same
    ``key`` — the attribution-join shape (view -> click within N hours).

    Scale contract: BOTH sides carry a watermark and the join predicate
    is equality-on-key plus a closed time range, which is exactly what
    Structured Streaming needs to bound join state — rows older than
    ``watermark + upper_bound`` are evicted instead of accumulating
    forever.  Without the range condition Spark would keep every row of
    both streams in state indefinitely; this function makes the bounded
    shape the only expressible one.  The shuffle is hash-partitioned on
    ``key`` for both sides (stream-stream joins co-partition by the
    equality columns).

    All non-key columns are suffixed so the two sides never collide.
    Inner joins emit in ``append`` mode as soon as both rows arrive.
    """
    lsuf, rsuf = suffixes
    lw = left.withWatermark(ts_col, watermark)
    rw = right.withWatermark(ts_col, watermark)
    for c in left.columns:
        if c != key:
            lw = lw.withColumnRenamed(c, f"{c}{lsuf}")
    for c in right.columns:
        if c != key:
            rw = rw.withColumnRenamed(c, f"{c}{rsuf}")
    rw = rw.withColumnRenamed(key, f"__{key}{rsuf}")
    cond = (
        (F.col(key) == F.col(f"__{key}{rsuf}"))
        & (
            F.col(f"{ts_col}{rsuf}")
            >= F.col(f"{ts_col}{lsuf}") + F.expr(f"INTERVAL {lower_bound}")
        )
        & (
            F.col(f"{ts_col}{rsuf}")
            <= F.col(f"{ts_col}{lsuf}") + F.expr(f"INTERVAL {upper_bound}")
        )
    )
    return lw.join(rw, cond, "inner").drop(f"__{key}{rsuf}")


def write_stream_to_warehouse(
    sdf: DataFrame,
    path: str,
    *,
    checkpoint: str,
    mode: str = "append",
    available_now: bool = True,
):
    """``foreachBatch`` parquet-warehouse sink with exactly-once
    semantics.

    Each micro-batch lands as an idempotent overwrite of its own
    ``__batch_id`` partition directory: a replayed batch (restart after
    a sink failure, before the checkpoint commit) rewrites the same
    partition instead of duplicating rows — the standard foreachBatch
    idempotence recipe for sinks without transactional append.  The
    checkpoint directory carries the source offsets, so the pipeline
    resumes where it stopped.

    ``available_now`` drains the current source content and terminates,
    returning None (deterministic for tests/backfills); a live job
    passes False and receives the running ``StreamingQuery`` handle to
    await/monitor/stop.
    """
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    writer = (
        sdf.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        q.stop()
        return None
    return writer.start()


def stream_merge_upsert(
    sdf: DataFrame,
    table_path: str,
    key_cols: list[str] | str,
    *,
    checkpoint: str,
    dedup_order_col: str | None = None,
    available_now: bool = True,
):
    """CDC-apply sink: upsert each micro-batch into a parquet
    current-state table with MERGE semantics
    (:func:`gofast_spark.operators.merge_upsert.merge_upsert`).

    Per batch: read the current table (empty -> batch bootstraps it),
    pre-dedup the batch to its latest row per key (``dedup_order_col``
    descending — a CDC feed can carry several versions of one key per
    batch; without it duplicate keys raise), merge, and atomically
    replace the table via write-to-staging + directory swap.  A
    replayed batch re-derives the same state (the merge is idempotent),
    so the sink is exactly-once to the reader.

    Scale note: a plain-parquet current-state table rewrites on every
    batch — the honest cost of upserts without a transactional table
    format; the merge itself is one key join, so swapping in a format
    with file-level pruning (the ``sources.bucketed`` tables, or any
    lakehouse format) changes the write, not the plan.  Keep batches
    coarse (minutes, availableNow backfills) for this sink.

    Durability contract: the swap is two ``os.replace`` directory moves
    (table -> __old_, staging -> table), NOT one atomic operation — a
    concurrent reader in that instant can see the table missing, and a
    crash inside the window leaves the state at a ``__old_``/staging
    path.  Single-writer is assumed (enforced by the streaming
    checkpoint); readers needing isolation should read through a
    manifest/lakehouse layer.  Every sink invocation first runs crash
    recovery: a missing table is restored from the newest fully-written
    staging dir (``_SUCCESS`` present) or, failing that, the newest
    ``__old_`` snapshot, so a replayed batch always starts from a
    complete state.  Table schema is fixed by the first batch (all
    stream columns, ``dedup_order_col`` included) and identical in the
    bootstrap and merge branches.
    """
    import glob as _glob
    import os
    import shutil

    from gofast_spark.operators.merge_upsert import merge_upsert

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    spark = sdf.sparkSession

    def _newest(paths: list[str], prefix: str) -> str:
        """Newest snapshot by NUMERIC batch-id suffix (lexicographic
        sort would rank staging_9 > staging_10); non-numeric debris
        falls back to mtime and never outranks a numeric batch id."""
        def key(p: str):
            suf = p[len(prefix):]
            if suf.isdigit():
                return (1, int(suf), 0.0)
            return (0, 0, os.path.getmtime(p))

        return max(paths, key=key)

    def _recover() -> None:
        """Restore a complete table after a crash mid-swap; clear debris."""
        if not os.path.isdir(table_path):
            stagings = _glob.glob(f"{table_path}__staging_*")
            complete = [
                s for s in stagings
                if os.path.exists(os.path.join(s, "_SUCCESS"))
            ]
            olds = _glob.glob(f"{table_path}__old_*")
            if complete:
                # staging finished writing: it is the newer state
                os.replace(
                    _newest(complete, f"{table_path}__staging_"), table_path
                )
            elif olds:
                os.replace(_newest(olds, f"{table_path}__old_"), table_path)
        for leftover in _glob.glob(f"{table_path}__staging_*") + _glob.glob(
            f"{table_path}__old_*"
        ):
            shutil.rmtree(leftover, ignore_errors=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        _recover()
        batch = batch_df
        if dedup_order_col is not None:
            w = Window.partitionBy(*keys).orderBy(
                F.col(dedup_order_col).desc()
            )
            batch = (
                batch.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        if os.path.isdir(table_path):
            current = spark.read.parquet(table_path)
            merged = merge_upsert(
                current,
                batch.select(*current.columns),
                keys,
                check_unique_source=dedup_order_col is None,
            )
        else:
            merged = batch
        staging = f"{table_path}__staging_{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        old = f"{table_path}__old_{batch_id}"
        if os.path.isdir(table_path):
            os.replace(table_path, old)
        os.replace(staging, table_path)
        shutil.rmtree(old, ignore_errors=True)

    writer = (
        sdf.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        q.stop()
        return None
    return writer.start()


def stream_dedup_index_upsert(
    sdf: DataFrame,
    base_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    available_now: bool = True,
) -> tuple[str, str, list | None]:
    """PRODUCTION layout of the streaming dedup health card's state
    (r13 verdict ask #3 — the contract previously only documented in
    plans/catalog_streaming.py's stream_dedup_rate_report docstring,
    now executable): instead of holding the (doc, shingle) grid as
    unbounded complete-mode state, each micro-batch UPSERTS into two
    maintained warehouse tables via the CDC-apply MERGE sink
    (:func:`stream_merge_upsert`):

    - ``<base>_shingles``: the distinct (id, sh_hash) shingle INDEX,
      keyed by (id, sh_hash) — a re-delivered document merges into its
      existing rows instead of inflating them (at-least-once-safe);
    - ``<base>_exact``: the (normalized_text, id) exact-dup presence
      grid, keyed by (text_norm, id).

    The nightly health-card job is then
    :func:`dedup_health_card_from_tables` over the two TABLES — the
    pair joins never run per micro-batch.  State is bounded by the
    corpus (a real table, compactable/partitionable), not by the
    streaming state store.

    Returns ``(shingle_path, exact_path, queries)``: with
    ``available_now=True`` (the default, drain-and-terminate) both
    upserts have completed and ``queries`` is ``None``; with
    ``available_now=False`` the two live ``StreamingQuery`` handles are
    returned as a list so the caller can await/monitor/stop them —
    dropping them would leave two unowned continuous queries running
    (r14 review).
    """
    from gofast_spark.dedup.minhash import doc_shingles
    from gofast_spark.text.analysis import normalize_text

    shingle_path = f"{base_path}_shingles"
    exact_path = f"{base_path}_exact"
    # __ord is a constant: the upsert sink's per-batch key-dedup just
    # needs ANY single row per key (presence semantics)
    sh = doc_shingles(sdf, id_col, text_col, k=k).select(
        F.col(id_col), F.col("sh_hash"), F.lit(1).alias("__ord")
    )
    q1 = stream_merge_upsert(
        sh,
        shingle_path,
        [id_col, "sh_hash"],
        checkpoint=f"{checkpoint}/shingles",
        dedup_order_col="__ord",
        available_now=available_now,
    )
    ex = sdf.select(
        normalize_text(text_col).alias("__t"),
        F.col(id_col),
        F.lit(1).alias("__ord"),
    )
    q2 = stream_merge_upsert(
        ex,
        exact_path,
        ["__t", id_col],
        checkpoint=f"{checkpoint}/exact",
        dedup_order_col="__ord",
        available_now=available_now,
    )
    queries = None if available_now else [q1, q2]
    return shingle_path, exact_path, queries


def dedup_health_card_from_tables(
    spark,
    shingle_path: str,
    exact_path: str,
    *,
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.8,
    max_df: int | None = 64,
) -> DataFrame:
    """The nightly health-card job over the maintained index tables
    written by :func:`stream_dedup_index_upsert` — identical output to
    the batch entry and the complete-mode streaming twin (one shared
    core, :func:`gofast_spark.dedup.ngram.ngram_dedup_report_from_shingles`).
    Pair joins run against a real parquet table: filters and the
    two-column (id, sh_hash) projection push into the scan, and the
    PPJoin-style ``max_df`` blocking bounds the candidate join exactly
    as in the batch plan."""
    from gofast_spark.dedup.ngram import (
        count_distinct_with_null_group,
        ngram_dedup_report_from_shingles,
    )

    sh = spark.read.parquet(shingle_path).select(id_col, "sh_hash")
    ex = spark.read.parquet(exact_path).select("__t", id_col)
    stats, _ = pin(
        ex.agg(
            count_distinct_with_null_group(id_col).alias("n_docs"),
            F.countDistinct("__t").cast("bigint").alias("n_exact_unique"),
        ),
        "dedup_health:stats",
    )
    rep = ngram_dedup_report_from_shingles(
        sh,
        id_col,
        stats.select("n_docs"),
        jaccard_threshold=jaccard_threshold,
        containment_threshold=containment_threshold,
        max_df=max_df,
    )
    return rep.crossJoin(
        F.broadcast(stats.select("n_exact_unique"))
    ).select(
        "n_docs", "n_exact_unique", "n_candidate_pairs",
        "n_jaccard_pairs", "n_containment_pairs", "n_docs_flagged",
    )
