"""Streaming catalog entry (SURVEY §2.12): the daily windowed aggregate
runs through Structured Streaming (file source -> availableNow micro-batch
replay -> memory sink) and must produce EXACTLY the batch answer DuckDB
computes — the exactly-once semantics check, not just a smoke test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query
from gofast_spark.session import pin


@query(
    "streaming_window_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling event-time windows over the events stream; the
    window start equals date_trunc('day') so the batch oracle is exact."""
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
        windowed_aggregate,
    )

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = windowed_aggregate(
        stream,
        "ts",
        "1 day",
        group_cols=["event_type"],
        aggs={"*": "count", "value": "sum"},
    )
    out = run_available_now(agg, mode="complete")
    return out.select(
        F.col("w.start").cast("date").alias("day"),
        "event_type",
        "n",
        F.round("value_sum", 4).cast("double").alias("value_sum"),
    )


@query(
    "sessionized_aggregate_events",
    oracle="""
    WITH e AS (
      SELECT event_type, make_timestamp(epoch_us(ts)) AS ts FROM events
    ), g AS (
      SELECT event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ), s AS (
      SELECT event_type, ts,
             sum(new_s) OVER (PARTITION BY event_type ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT event_type,
           CAST(epoch_us(min(ts)) AS BIGINT) AS s_start,
           CAST(epoch_us(max(ts) + INTERVAL 30 MINUTE) AS BIGINT) AS s_end,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY event_type, sid
    """,
)
def sessionized_aggregate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min per event_type) through Structured
    Streaming's ``session_window``, drained with availableNow.  The batch
    oracle rebuilds the sessions with the lag/cumsum idiom: a new session
    starts when the gap to the previous event is >= the window gap (Spark
    merges half-open ``[ts, ts+gap)`` intervals that overlap).  Session
    bounds are compared as unix micros — exact on both engines."""
    from gofast_spark.streaming import read_event_stream, run_available_now

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = stream.groupBy(
        F.session_window(F.col("ts"), "30 minutes").alias("w"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    out = run_available_now(agg, mode="complete")
    return out.select(
        "event_type",
        F.unix_micros(F.col("w.start")).alias("s_start"),
        F.unix_micros(F.col("w.end")).alias("s_end"),
        "n",
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state: ``dropDuplicatesWithinWatermark``
    on (user_id, event_type) with a horizon wider than the replayed data
    span, so the drained stream equals the batch DISTINCT — the
    exactly-once suppression check for the stateful dedup operator."""
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
        stream_dedup,
    )

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    deduped = stream_dedup(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="45 days"
    )
    out = run_available_now(
        deduped.select("user_id", "event_type"), mode="append"
    )
    return out


@query(
    "stateful_totals_events",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS total,
           CAST(round(max(value), 4) AS DOUBLE) AS vmax
    FROM events GROUP BY 1
    """,
)
def stateful_totals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState running totals)
    drained with availableNow: the LAST emitted row per key — the final
    state — must equal the batch per-user aggregate DuckDB computes.
    This is the exactly-once check for arbitrary-state operators, beyond
    what the built-in windowed aggregates cover."""
    from gofast_spark.streaming import read_event_stream, run_available_now
    from gofast_spark.streaming.ops import stateful_running_totals

    # the probing reader handles every ts encoding; ts is pruned from the
    # plan anyway (the stateful op only reads user_id/value)
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    out = run_available_now(
        stateful_running_totals(stream, "user_id", "value"), mode="update"
    )
    # update mode emits one row per key per micro-batch; keep the final
    # state (max n per key — n is monotone in batches)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            "n",
            F.round("total", 4).cast("double").alias("total"),
            F.round("vmax", 4).cast("double").alias("vmax"),
        )
    )


@query(
    "stream_static_enrich_counts",
    oracle="""
    WITH dim AS (SELECT DISTINCT c_custkey % 50 AS user_id, c_mktsegment
                 FROM customer WHERE c_custkey < 50)
    SELECT d.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(e.value), 4) AS DOUBLE) AS total
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.c_mktsegment
    """,
)
def stream_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (stream_static_enrich): the event
    stream broadcast-joins a static customer-segment dimension per
    micro-batch, then aggregates per segment.  The drained availableNow
    result equals the batch join — the correctness contract for the
    stateless enrich operator."""
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
        stream_static_enrich,
    )

    dim = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 50)
        .select(
            (F.col("c_custkey") % 50).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        .distinct()
    )
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    enriched = stream_static_enrich(stream, dim, on="user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("__t")
    )
    out = run_available_now(agg, mode="complete")
    return out.select(
        "segment", "n", F.round("__t", 4).cast("double").alias("total")
    )


@query(
    "warehouse_sink_roundtrip_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def warehouse_sink_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once foreachBatch parquet warehouse sink
    (streaming.write_stream_to_warehouse): drain the events stream with
    availableNow into per-__batch_id partition overwrites, re-read the
    landed parquet, and hash-match the batch aggregate — the sink's
    idempotent-overwrite recipe proven differentially, not just claimed.
    Scratch dirs are recreated per run so a stale checkpoint can never
    mask a replay."""
    import shutil

    from gofast_spark.streaming import (
        read_event_stream,
        write_stream_to_warehouse,
    )

    root = "/tmp/gofast_spark_io/wh_sink"
    shutil.rmtree(root, ignore_errors=True)
    stream = read_event_stream(spark, sf_dir, glob="events.parquet").select(
        "event_id", "event_type", "value"
    )
    write_stream_to_warehouse(
        stream, root + "/data", checkpoint=root + "/ckpt"
    )
    back = spark.read.parquet(root + "/data").drop("__batch_id")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).cast("double").alias("total"),
    )


@query(
    "stream_interval_join_events",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS delay_sec
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
    """,
)
def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join: every click within 12 hours of a
    same-user view, both sides live event streams.  The watermark +
    closed time-range predicate is what keeps join state bounded on an
    unbounded stream (streaming/ops.py:stream_stream_interval_join);
    availableNow replay must reproduce the batch join bit-for-bit."""
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
        stream_stream_interval_join,
    )

    views = read_event_stream(spark, sf_dir, glob="events.parquet").where(
        F.col("event_type") == "view"
    )
    clicks = read_event_stream(spark, sf_dir, glob="events.parquet").where(
        F.col("event_type") == "click"
    )
    joined = stream_stream_interval_join(
        views,
        clicks,
        "user_id",
        watermark="1 day",
        lower_bound="0 seconds",
        upper_bound="12 hours",
    )
    out = run_available_now(joined, mode="append")
    return out.select(
        F.col("event_id_l").alias("view_id"),
        F.col("event_id_r").alias("click_id"),
        "user_id",
        (
            F.unix_timestamp("ts_r") - F.unix_timestamp("ts_l")
        ).alias("delay_sec"),
    )


@query(
    "asof_join_click_view",
    oracle="""
    WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
               FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    c AS (SELECT user_id, ts, event_id AS click_id
          FROM events WHERE event_type = 'click')
    SELECT c.click_id, c.user_id, v.view_id,
           CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS gap_sec
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_join_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every click attached to the most
    recent same-user view at or before it, via the union-scan pattern
    (one key-partitioned shuffle, no range fan-out).  DuckDB's native
    ASOF JOIN is the oracle — two entirely different physical strategies
    must produce identical matches."""
    from gofast_spark.operators import asof_join

    e = _t(spark, sf_dir, "events")
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(clicks, views, "user_id", "ts")
    return out.select(
        "click_id",
        "user_id",
        F.col("view_id_r").alias("view_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).alias("gap_sec"),
    )


@query(
    "asof_forward_click_view",
    oracle="""
    WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
               FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    c AS (SELECT user_id, ts, event_id AS click_id
          FROM events WHERE event_type = 'click'),
    m AS (
      SELECT c.click_id, c.user_id,
             arg_min(v.view_id, v.ts) AS view_id,
             min(v.ts) AS vts
      FROM c JOIN v ON v.user_id = c.user_id
         AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 2 HOUR
      GROUP BY c.click_id, c.user_id)
    SELECT c.click_id, c.user_id, m.view_id,
           CAST(date_diff('second', c.ts, m.vts) AS BIGINT) AS gap_sec
    FROM c LEFT JOIN m ON m.click_id = c.click_id
    """,
)
def asof_forward_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: the NEXT same-user view within 2
    hours of each click (operators/asof.py direction='forward').  The
    oracle takes the argmin over the inequality join — a different
    strategy that must produce identical matches, including the NULLs
    the tolerance window creates."""
    from gofast_spark.operators import asof_join

    e = _t(spark, sf_dir, "events")
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        clicks, views, "user_id", "ts",
        direction="forward", tolerance="2 hours",
    )
    return out.select(
        "click_id",
        "user_id",
        F.col("view_id_r").alias("view_id"),
        (F.unix_timestamp("ts_r") - F.unix_timestamp("ts")).alias("gap_sec"),
    )


@query(
    "stream_token_counts_documents",
    oracle=f"""
    WITH norm AS (
      SELECT trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
      FROM documents),
    tok AS (SELECT unnest(string_split(t, ' ')) AS term FROM norm)
    SELECT term, count(*) AS n
    FROM tok WHERE term <> '' GROUP BY term
    """,
)
def stream_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vocabulary maintenance: term frequencies accumulated
    through Structured Streaming micro-batches (complete-mode state is
    one counter per term) must equal the batch token counts exactly —
    the exactly-once check for the text-ingest path."""
    from gofast_spark.streaming import (
        read_document_stream,
        run_available_now,
        streaming_token_counts,
    )

    stream = read_document_stream(spark, sf_dir, glob="documents.parquet")
    counts = streaming_token_counts(stream)
    return run_available_now(counts, mode="complete")


@query(
    "stream_cdc_merge_customer",
    oracle="""
    WITH latest AS (
      SELECT o_custkey AS c_custkey,
             arg_max(o_totalprice, o_orderkey) AS new_bal
      FROM orders GROUP BY o_custkey)
    SELECT c.c_custkey,
           CAST(round(coalesce(l.new_bal, c.c_acctbal), 2) AS DOUBLE)
             AS c_acctbal
    FROM customer c LEFT JOIN latest l USING (c_custkey)
    UNION ALL
    SELECT l.c_custkey, CAST(round(l.new_bal, 2) AS DOUBLE)
    FROM latest l ANTI JOIN customer c USING (c_custkey)
    """,
)
def stream_cdc_merge_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply sink (streaming.stream_merge_upsert): bootstrap a
    customer current-state table, stream the orders file as a change
    feed (latest order per customer wins via dedup_order_col), upsert
    through merge_upsert per micro-batch with an atomic staging swap,
    re-read the final table.  The oracle resolves the same CDC batch
    with arg_max + left join — two strategies, one state."""
    import shutil

    from gofast_spark.streaming import stream_merge_upsert

    root = "/tmp/gofast_spark_io/cdc_merge"
    shutil.rmtree(root, ignore_errors=True)
    table, ckpt = root + "/table", root + "/ckpt"

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cust.write.mode("overwrite").parquet(table)

    changes = (
        spark.readStream.schema(
            "o_orderkey long, o_custkey long, o_totalprice double"
        )
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").alias("c_acctbal"),
            F.col("o_orderkey").alias("ver"),
        )
    )
    stream_merge_upsert(
        changes, table, "c_custkey", checkpoint=ckpt, dedup_order_col="ver"
    )
    back = spark.read.parquet(table)
    return back.select(
        "c_custkey",
        F.round("c_acctbal", 2).cast("double").alias("c_acctbal"),
    )


def _stream_filter_oracle() -> str:
    from gofast_spark.plans.catalog_llm import _FILTER_KEEP_CTES

    return f"""
    WITH {_FILTER_KEEP_CTES},
    lab AS (
      SELECT doc_id,
        (n_tok >= 5 AND n_tok <= 100000 AND d3 <= 0.5 AND top2 <= 0.6
         AND stop_ratio >= 0.05 AND uniq_ratio >= 0.2) AS keep,
        CASE WHEN NOT n_tok >= 5 THEN 'min_tokens'
             WHEN NOT n_tok <= 100000 THEN 'max_tokens'
             WHEN NOT d3 <= 0.5 THEN 'max_dup_3gram_frac'
             WHEN NOT top2 <= 0.6 THEN 'max_top_2gram_char_frac'
             WHEN NOT stop_ratio >= 0.05 THEN 'min_stopword_ratio'
             WHEN NOT uniq_ratio >= 0.2 THEN 'min_unique_ratio'
             ELSE NULL END AS reason
      FROM fsigs)
    SELECT keep, reason, CAST(count(*) AS BIGINT) AS n
    FROM lab GROUP BY keep, reason
    """


@query("stream_corpus_filter_counts", oracle=_stream_filter_oracle())
def stream_corpus_filter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/Gopher corpus filter applied IN A STREAM: the quality
    battery is a stateless projection, so the batch operator runs on
    the streaming frame unchanged (one code path for backfill and
    live ingest); complete-mode keep/reason counts drained with
    availableNow must equal the batch verdicts exactly."""
    from gofast_spark.streaming import (
        read_document_stream,
        run_available_now,
    )
    from gofast_spark.text import corpus_filter

    stream = read_document_stream(spark, sf_dir, glob="documents.parquet")
    labeled = corpus_filter(stream, "text")
    counts = labeled.groupBy("keep", "reason").agg(
        F.count(F.lit(1)).alias("n")
    )
    return run_available_now(counts, mode="complete")


@query(
    "stream_hist_sketch_events",
    oracle="""
    SELECT event_type,
           CAST(greatest(0, least(63, floor(value / 8.0))) AS INT) AS bin,
           count(*) AS cnt
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, bin
    """,
)
def stream_hist_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable histogram sketch MAINTAINED IN A STREAM
    (functions/sketches.py value_histogram over the events stream,
    complete mode): live percentile dashboards keep one counter per
    (group, bin) as state, and the availableNow drain must equal the
    batch histogram exactly — bin arithmetic is identical because the
    operator is shared verbatim between the two modes."""
    from gofast_spark.functions.sketches import value_histogram
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
    )

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    hist = value_histogram(
        stream, ["event_type"], "value", lo=0.0, hi=512.0, bins=64
    )
    return run_available_now(hist, mode="complete")


@query(
    "stream_funnel_counts",
    oracle="""
    WITH mins AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events WHERE ts IS NOT NULL GROUP BY user_id)
    SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
           count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_users
    FROM mins
    UNION ALL
    SELECT CAST(2 AS INT), 'click',
           count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
                       AND t1 >= t0 THEN 1 END)
    FROM mins
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase',
           count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
                       AND t1 >= t0 AND t2 IS NOT NULL
                       AND t2 >= t1 THEN 1 END)
    FROM mins
    """,
)
def stream_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel MAINTAINED IN A STREAM (operators/funnel.py
    first_touch_mins + first_touch_counts): the streaming state is the
    per-user min reach time per step — monotone, idempotent, and exact
    under micro-batching and late data with no watermark — and the
    drained state folds to step counts in one batch aggregate.  The
    oracle computes the identical first-touch definition from the batch
    table (availableNow-equals-batch).  At production scale the drain
    targets a table sink (stream_merge_upsert) instead of memory; the
    state shape and plan are the same."""
    from gofast_spark.operators.funnel import (
        first_touch_counts,
        first_touch_mins,
    )
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
    )

    steps = ["view", "click", "purchase"]
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    mins = first_touch_mins(stream, "user_id", "ts", "event_type", steps)
    state = run_available_now(mins, mode="complete")
    return first_touch_counts(state, steps)


@query(
    "stream_retention_cohorts",
    oracle="""
    WITH ev AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             event_type AS ty FROM events
      WHERE ts IS NOT NULL),
    first AS (
      SELECT u, min(s) AS t0 FROM ev WHERE ty = 'signup' GROUP BY u),
    active AS (
      SELECT DISTINCT ev.u,
             CAST(floor(t0 / 604800.0) AS BIGINT) AS cohort,
             CAST(floor((s - t0) / 604800.0) AS BIGINT) AS "offset"
      FROM ev JOIN first ON first.u = ev.u
      WHERE s >= t0 AND floor((s - t0) / 604800.0) < 8),
    sizes AS (
      SELECT CAST(floor(t0 / 604800.0) AS BIGINT) AS cohort,
             count(*) AS cohort_size
      FROM first GROUP BY 1)
    SELECT a.cohort, a."offset", CAST(count(*) AS BIGINT) AS n_active,
           CAST(any_value(cohort_size) AS BIGINT) AS cohort_size,
           CAST(count(*) / CAST(any_value(cohort_size) AS DOUBLE) AS DOUBLE)
             AS retention
    FROM active a JOIN sizes sz ON sz.cohort = a.cohort
    GROUP BY a.cohort, a."offset"
    """,
)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention MAINTAINED IN A STREAM, two-phase (the
    backfill-then-live shape of a real growth pipeline): phase 1 drains
    the per-user min signup time (a monotone stateful aggregate — the
    cohort-entry state); phase 2 re-streams the events against that
    static entry frame (stream-static join, stateless), projects the
    (user, cohort, offset) activity cell, and streaming-dedups it —
    dropDuplicates IS the live retention state, exactly-once per cell,
    late-data-safe because cells only appear, never change.  The
    drained cells fold to the retention triangle in one batch
    aggregate; the oracle is the batch definition (availableNow-equals
    -batch, same SQL as retention_cohorts_events)."""
    from gofast_spark.streaming import read_event_stream, run_available_now

    period = 604_800  # 7-day cohorts, matching the batch entry
    max_periods = 8

    s1 = read_event_stream(spark, sf_dir, glob="events.parquet")
    entries = (
        s1.where(F.col("ts").isNotNull() & (F.col("event_type") == "signup"))
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.min(F.unix_timestamp("ts")).alias("t0"))
    )
    first = run_available_now(entries, mode="complete")

    s2 = read_event_stream(spark, sf_dir, glob="events.parquet")
    ev = s2.where(F.col("ts").isNotNull()).select(
        F.col("user_id").alias("u"),
        F.unix_timestamp("ts").alias("s"),
    )
    cells = (
        ev.join(first, "u")
        .where(F.col("s") >= F.col("t0"))
        .select(
            "u",
            (F.col("t0") / F.lit(period)).cast("bigint").alias("cohort"),
            ((F.col("s") - F.col("t0")) / F.lit(period))
            .cast("bigint")
            .alias("offset"),
        )
        .where(F.col("offset") < max_periods)
        .dropDuplicates(["u", "cohort", "offset"])
    )
    active = run_available_now(cells, mode="append")

    sizes = first.groupBy(
        (F.col("t0") / F.lit(period)).cast("bigint").alias("cohort")
    ).agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        active.groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "offset", "n_active", "cohort_size",
            (F.col("n_active") / F.col("cohort_size").cast("double"))
            .alias("retention"),
        )
    )


@query(
    "stream_psi_drift_events",
    oracle="""
    WITH ref AS (
      SELECT least(greatest(CAST(floor(CAST(value AS DOUBLE) / 51.2)
                AS INT), 0), 9) AS bin
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND ts < TIMESTAMP '2024-01-16'),
    cur AS (
      SELECT least(greatest(CAST(floor(CAST(value AS DOUBLE) / 51.2)
                AS INT), 0), 9) AS bin
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-16'),
    g AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    a AS (SELECT bin, count(*) AS n_ref FROM ref GROUP BY bin),
    b AS (SELECT bin, count(*) AS n_cur FROM cur GROUP BY bin),
    j AS (
      SELECT g.bin, coalesce(a.n_ref, 0) AS n_ref,
             coalesce(b.n_cur, 0) AS n_cur
      FROM g LEFT JOIN a ON a.bin = g.bin LEFT JOIN b ON b.bin = g.bin),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
    SELECT CAST(round(sum(
             ((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
             * ln(((n_ref + 0.5) / (tr + 5.0))
                  / ((n_cur + 0.5) / (tc + 5.0)))), 6) AS DOUBLE) AS psi,
           CAST(max(tr) AS BIGINT) AS n_ref,
           CAST(max(tc) AS BIGINT) AS n_cur
    FROM j, t
    """,
)
def stream_psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring IN A STREAM (quality/drift.py psi_report over a
    LIVE current window): the reference histogram is a static
    pre-period batch; the current-period bin counts are THE streaming
    state (one bins-sized complete-mode aggregate, the
    stream_hist_sketch pattern); the drained counts fold to PSI against
    the reference — the shape of a production drift monitor, where only
    a 10-counter state ever lives in the stream.  availableNow-equals
    -batch oracle."""
    from gofast_spark.quality.drift import psi_from_counts
    from gofast_spark.streaming import read_event_stream, run_available_now

    lo, hi, bins = 0.0, 512.0, 10
    ref = _t(spark, sf_dir, "events").where(
        F.col("ts") < "2024-01-16"
    ).select("value")

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    cur_bins = (
        stream.where(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("ts") >= "2024-01-16")
        )
        .groupBy(
            F.least(
                F.greatest(
                    F.floor(F.col("value").cast("double") / F.lit(51.2))
                    .cast("int"),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_available_now(cur_bins, mode="complete")
    ref_bins = ref.where(F.col("value").isNotNull()).groupBy(
        F.least(
            F.greatest(
                F.floor(F.col("value").cast("double") / F.lit(51.2))
                .cast("int"),
                F.lit(0),
            ),
            F.lit(bins - 1),
        ).alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    out = psi_from_counts(ref_bins, drained, bins=bins, smooth=0.5)
    return out.select(
        F.round("psi", 6).cast("double").alias("psi"), "n_ref", "n_cur"
    )


from gofast_spark.plans.catalog import ORACLE_SQL as _ORACLE_SQL  # noqa: E402


@query("stream_msprt_ab_events", oracle=_ORACLE_SQL["msprt_ab_events"])
def stream_msprt_ab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid A/B monitoring IN A STREAM (stats/sequential.py;
    Johari et al. KDD 2017 — the use case mSPRT exists for: a live
    dashboard peeking daily): the streaming state is the per-(day)
    integer moment table (one days-sized complete-mode aggregate,
    exactly maintainable, late-data-safe because sums are
    order-independent); the drained state folds through
    msprt_from_day_moments to the identical curve the batch entry
    produces — availableNow-equals-batch oracle."""
    from gofast_spark.stats.sequential import (
        msprt_day_moments,
        msprt_from_day_moments,
    )
    from gofast_spark.streaming import read_event_stream, run_available_now

    stream = read_event_stream(spark, sf_dir, glob="events.parquet").where(
        F.col("ts").isNotNull()
    ).withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 1, "treatment").otherwise("control"),
    )
    moments = msprt_day_moments(
        stream, "ts", "variant", "value",
        control="control", treatment="treatment",
    )
    drained = run_available_now(moments, mode="complete")
    out = msprt_from_day_moments(drained, tau2=1.0)
    return out.select(
        "day", "n_treatment", "n_control",
        F.round("theta", 6).cast("double").alias("theta"),
        F.round("likelihood_ratio", 6).cast("double")
        .alias("likelihood_ratio"),
        F.round("p_value", 6).cast("double").alias("p_value"),
    )


from gofast_spark.plans import catalog_ts as _catalog_ts  # noqa: E402,F401
# (imported for registration order: the batch cusum oracle must exist
# before this decorator reads it)


@query("stream_cusum_daily_events", oracle=_ORACLE_SQL["cusum_daily_events"])
def stream_cusum_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift monitoring IN A STREAM (ts/changepoint.py
    cusum; Page 1954) — the two-phase streaming pattern: phase 1
    maintains the exactly-maintainable state (the 1-day windowed
    revenue sums, complete mode, order-independent), phase 2 folds the
    drained days-sized frame through the batch CUSUM windows.  The
    oracle is the batch entry's SQL verbatim — availableNow must equal
    batch."""
    from gofast_spark.streaming import (
        read_event_stream,
        run_available_now,
        windowed_aggregate,
    )
    from gofast_spark.ts.changepoint import cusum

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = windowed_aggregate(
        stream, "ts", "1 day", aggs={"value": "sum"}
    )
    drained = run_available_now(agg, mode="complete")
    daily = drained.select(
        F.col("w.start").cast("date").alias("d"),
        F.round("value_sum", 4).cast("double").alias("v"),
    )
    out = cusum(daily, "d", "v", k=100.0, h=500.0)
    return out.select(
        "d", "v", "cusum_pos", "cusum_neg",
        F.col("alarm_pos").cast("int").alias("alarm_pos"),
        F.col("alarm_neg").cast("int").alias("alarm_neg"),
    )


@query(
    "stream_srm_check_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS g
      FROM events WHERE user_id IS NOT NULL),
    a AS (
      SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
      FROM d)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           CAST(n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
             AS ratio_0,
           ((CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
               + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
            + (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
               + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5))
             AS chi2
    FROM a
    """,
)
def stream_srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail IN A STREAM (stats/causal.py
    srm_check semantics; Fabijan et al. 2019): the per-variant counts
    are THE streaming state — one 2-counter complete-mode aggregate,
    exactly how an experimentation platform monitors assignment drift
    live; the drained counts fold to the chi-square.  availableNow-
    equals-batch oracle."""
    from gofast_spark.streaming import read_event_stream, run_available_now

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    g = (
        (F.col("user_id") * F.lit(1103515245) + F.lit(12345))
        % F.lit(2147483648) % F.lit(2)
    ).cast("int")
    counts = (
        stream.where(F.col("user_id").isNotNull())
        .groupBy(g.alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_available_now(counts, mode="complete")
    agg = drained.agg(
        F.sum(F.when(F.col("g") == 0, F.col("n")).otherwise(0))
        .alias("__n0"),
        F.sum(F.when(F.col("g") == 1, F.col("n")).otherwise(0))
        .alias("__n1"),
    )
    n0 = F.col("__n0").cast("double")
    n1 = F.col("__n1").cast("double")
    nn = n0 + n1
    e0 = nn * F.lit(0.5)
    e1 = nn * F.lit(0.5)
    chi2 = (n0 - e0) * (n0 - e0) / e0 + (n1 - e1) * (n1 - e1) / e1
    return agg.select(
        F.col("__n0").cast("bigint").alias("n_0"),
        F.col("__n1").cast("bigint").alias("n_1"),
        (n0 / nn).alias("ratio_0"),
        chi2.alias("chi2"),
    )


@query(
    "stream_ab_report_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS g,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
    a AS (
      SELECT
        sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss0,
        sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss1
      FROM d),
    m AS (
      SELECT n0, n1,
             CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1e6 AS mean_0,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6 AS mean_1,
             sqrt(CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
                    / CAST(n0 * (n0 - 1) AS DOUBLE) / 1e12
                    / CAST(n0 AS DOUBLE)
                  + CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                    / CAST(n1 * (n1 - 1) AS DOUBLE) / 1e12
                    / CAST(n1 AS DOUBLE)) AS se
      FROM a)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           mean_0, mean_1,
           (mean_1 - mean_0) / se AS z,
           abs((mean_1 - mean_0) / se) > 1.959963984540054
             AS significant
    FROM m
    """,
)
def stream_ab_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live A/B readout IN A STREAM: the six sufficient statistics
    (per-variant count / quantized sum / sum of squares) are THE
    streaming state — one complete-mode conditional aggregate, exactly
    how an experimentation platform watches a running test; the
    drained counters fold to the Welch z and significance flag
    (stats/cuped.py ab_report semantics).  availableNow-equals-batch
    oracle, exact-integer state."""
    from gofast_spark.streaming import read_event_stream, run_available_now

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    g = (
        (F.col("user_id") * F.lit(1103515245) + F.lit(12345))
        % F.lit(2147483648) % F.lit(2)
    ).cast("int")
    vu = F.floor(F.col("value").cast("double") * F.lit(1e6)
                 + F.lit(0.5)).cast("bigint")
    z = F.lit(0).cast("bigint")
    base = stream.where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(g.alias("g"), vu.alias("v"))

    def side(gv, tag):
        m = F.col("g") == gv
        x = F.when(m, F.col("v")).otherwise(z)
        return [
            F.sum(F.when(m, 1).otherwise(0)).alias(f"n{tag}"),
            F.sum(x.cast("decimal(19,0)")).alias(f"s{tag}"),
            F.sum(x.cast("decimal(19,0)") * x).alias(f"ss{tag}"),
        ]

    counters = base.agg(*side(0, "0"), *side(1, "1"))
    drained = run_available_now(counters, mode="complete")

    def stats(tag):
        n = F.col(f"n{tag}").cast("decimal(19,0)")
        nd = F.col(f"n{tag}").cast("double")
        mean = F.col(f"s{tag}").cast("double") / nd / F.lit(1e6)
        var = (
            (n * F.col(f"ss{tag}") - F.col(f"s{tag}") * F.col(f"s{tag}"))
            .cast("double")
            / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
            / F.lit(1e12)
        )
        return mean, var, nd

    m0, v0, n0 = stats("0")
    m1, v1, n1 = stats("1")
    se = F.sqrt(v0 / n0 + v1 / n1)
    zz = (m1 - m0) / se
    return drained.select(
        F.col("n0").cast("bigint").alias("n_0"),
        F.col("n1").cast("bigint").alias("n_1"),
        m0.alias("mean_0"),
        m1.alias("mean_1"),
        zz.alias("z"),
        (F.abs(zz) > F.lit(1.959963984540054)).alias("significant"),
    )


@query(
    "stream_psi_by_type_events",
    oracle="""
    WITH cnt AS (
      SELECT event_type AS grp,
             least(greatest(CAST(floor(CAST(value AS DOUBLE) / 50.0)
                   AS INT), 0), 9) AS bin,
             count(*) AS n
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    grid AS (
      SELECT g.grp, s.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT grp FROM cnt) g
      CROSS JOIN spine s
      LEFT JOIN cnt c ON c.grp = g.grp AND c.bin = s.bin),
    m AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY grp) AS n_g,
             sum(n) OVER (PARTITION BY bin) - n AS rest_b,
             sum(n) OVER () - sum(n) OVER (PARTITION BY grp) AS rest_t
      FROM grid)
    SELECT grp AS "group",
           CAST(max(n_g) AS BIGINT) AS n_group,
           CAST(max(rest_t) AS BIGINT) AS n_rest,
           CAST(sum(CAST(floor(
             ((n + 0.5) / (n_g + 5.0) - (rest_b + 0.5) / (rest_t + 5.0))
             * ln(((n + 0.5) / (n_g + 5.0))
                  / ((rest_b + 0.5) / (rest_t + 5.0)))
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_u6
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def stream_psi_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP drift monitoring IN A STREAM (the r11 verdict's named
    streaming twin of the per-source drift reports): the leave-one
    -group-out PSI of quality/drift.py psi_by_group is counts-native —
    its entire input is the (group, bin) counter grid — so the
    streaming state is exactly that grid (one groups x bins
    complete-mode aggregate, the stream_hist_sketch pattern), and the
    drained counts fold through the SAME margin code path
    (psi_by_group_from_counts) the batch entries use.
    availableNow-equals-batch oracle."""
    from gofast_spark.quality.drift import psi_by_group_from_counts
    from gofast_spark.streaming import read_event_stream, run_available_now

    bins = 10
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    counts = (
        stream.where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.col("event_type").alias("grp"),
            F.least(
                F.greatest(
                    F.floor(F.col("value").cast("double") / F.lit(50.0))
                    .cast("int"),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the margin fold references the drained frame three times (groups
    # spine + left join + windows); the drain returns a checkpointed
    # frame so the self-references resolve (and the grid is groups x
    # bins tiny)
    drained = run_available_now(counts, mode="complete")
    return psi_by_group_from_counts(drained, bins=bins, smooth=0.5)


from gofast_spark.plans.catalog import ORACLE_SQL as _ORACLE_SQL2  # noqa: E402


@query("stream_ks_by_type_events", oracle=_ORACLE_SQL2["ks_drift_by_type_events"])
def stream_ks_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group binned-ECDF KS drift IN A STREAM: like
    stream_psi_by_type_events, ks_by_group's input is the (group, bin)
    counter grid, so the streaming state is that grid (100 bins x
    groups counters, exactly maintainable, late-data-safe because
    counts are order-independent) and the drained counts fold through
    ks_by_group_from_counts — the identical margin/cumulative-window
    path the batch ks_drift_by_type_events entry runs, hence the
    byte-identical oracle."""
    from gofast_spark.quality.drift import ks_by_group_from_counts
    from gofast_spark.streaming import read_event_stream, run_available_now

    bins = 100
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    counts = (
        stream.where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.col("event_type").alias("grp"),
            F.least(
                F.greatest(
                    F.floor(F.col("value").cast("double") / F.lit(5.0))
                    .cast("int"),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_available_now(counts, mode="complete")
    return ks_by_group_from_counts(drained, bins=bins)


@query(
    "stream_wasserstein_by_type_events",
    oracle="""
    WITH cnt AS (
      SELECT floor(CAST(value AS DOUBLE) / 5.0) * 5.0 AS v,
             event_type AS g, count(*) AS c
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    vals AS (SELECT DISTINCT v FROM cnt),
    grps AS (SELECT DISTINCT g FROM cnt),
    grid AS (SELECT vals.v, grps.g FROM vals, grps),
    cell AS (
      SELECT grid.v, grid.g, coalesce(cnt.c, 0) AS c
      FROM grid LEFT JOIN cnt ON grid.v = cnt.v AND grid.g = cnt.g),
    cum AS (
      SELECT v, g,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_g,
             sum(c) OVER (PARTITION BY v) AS cv,
             sum(c) OVER (PARTITION BY g) AS n_g,
             sum(c) OVER () AS n,
             lead(v) OVER (PARTITION BY g ORDER BY v) AS vn
      FROM cell),
    cum2 AS (
      SELECT v, g, cum_g, n_g, n, vn,
             sum(cv) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_all
      FROM cum),
    t AS (
      SELECT g, n_g,
             CAST(floor(CAST(abs(cum_g * (n - n_g)
                             - (cum_all - cum_g) * n_g) AS DOUBLE)
                        * (vn - v)
                        / (CAST(n_g AS DOUBLE)
                           * CAST(n - n_g AS DOUBLE))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tq
      FROM cum2 WHERE vn IS NOT NULL)
    SELECT g AS "group", CAST(n_g AS BIGINT) AS n_group,
           CAST(sum(tq) AS BIGINT) AS w1_u9
    FROM t GROUP BY 1, 2 ORDER BY "group"
    """,
)
def stream_wasserstein_by_type_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-group-out exact Wasserstein drift IN A STREAM — the
    metric-aware third member of the streaming drift-twin family
    (PSI / KS / W1): the state is the (quantized value, group) count
    grid (width-5 pre-binning per the ks_test high-cardinality
    contract — a stream cannot hold unbounded distinct raw doubles),
    drained complete-mode and folded through the SAME
    wasserstein_by_group_from_counts path the batch entries delegate
    to.  availableNow-equals-batch oracle."""
    from gofast_spark.quality.drift import wasserstein_by_group_from_counts
    from gofast_spark.streaming import read_event_stream, run_available_now

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    counts = (
        stream.where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(
            (F.floor(F.col("value").cast("double") / F.lit(5.0)) * F.lit(5.0))
            .alias("v"),
            F.col("event_type").alias("g"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    drained = run_available_now(counts, mode="complete")
    return wasserstein_by_group_from_counts(drained, group_col="group")


@query("stream_corpus_report_documents", oracle=_ORACLE_SQL2["corpus_report_documents"])
def stream_corpus_report_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-(source, lang) dataset-card frame maintained AS A
    STREAM (the ingest-monitoring shape: partner feeds arrive
    continuously, the card stays current): corpus_report's aggregate
    is four integer counters per group (doc count, token sum, two
    u6-quantized ratio sums — text/analysis.py corpus_report_moments),
    so the streaming state is exactly that groups-sized counter grid
    (complete-mode, commutative, late-data-safe), and the drained
    moments fold through the SAME corpus_report_from_moments path the
    batch entry delegates to — byte-identical oracle."""
    from gofast_spark.streaming import (
        read_document_stream,
        run_available_now,
    )
    from gofast_spark.text.analysis import (
        corpus_report_from_moments,
        corpus_report_moments,
    )

    stream = read_document_stream(spark, sf_dir, glob="documents.parquet")
    moments = corpus_report_moments(stream, "text", ("source", "lang"))
    drained = run_available_now(moments, mode="complete")
    out = corpus_report_from_moments(drained)
    return out.select(
        "source", "lang", "n_docs", "tok_sum",
        F.col("mean_tokens").cast("double").alias("mean_tokens"),
        F.col("mean_unique_ratio").cast("double").alias("mean_unique_ratio"),
        F.col("mean_stopword_ratio").cast("double").alias(
            "mean_stopword_ratio"
        ),
    )


@query(
    "stream_dedup_rate_report_documents",
    oracle=_ORACLE_SQL2["dedup_rate_report_documents"],
)
def stream_dedup_rate_report_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The near-duplication HEALTH CARD maintained AS A STREAM (r12
    verdict ask #7: the dedup-rate twin): a continuously-ingesting
    corpus build keeps ONE presence-native state relation keyed
    (doc_id, sh_hash) with two row kinds — a SENTINEL row per document
    (sh_hash NULL) carrying the normalized text for the exact-dup
    ledger, and one row per distinct (doc, 3-gram shingle): the
    incrementally-maintained shingle INDEX a production build upserts
    into a table (executable layout: streaming/ops.py
    stream_dedup_index_upsert + dedup_health_card_from_tables;
    tests/test_dedup_index_layouts.py pins all three layouts equal).
    Both kinds are keyed by doc_id, so re-delivered rows MERGE instead
    of inflating counters (at-least-once-safe, complete-mode); the
    drained index folds through the SAME
    ngram_dedup_report_from_shingles core the batch entry delegates
    to, so the availableNow replay must equal the batch answer
    byte-for-byte (shared oracle).  The single-drain layout (one pass
    over the source, one state store — the r14 flagship-twin design,
    back-ported here) replaced the original two-grid version measured
    at 13.3 s driver-bench; the pair joins still run on the DRAINED
    state, not per micro-batch — at 100 TB that is the nightly
    health-card job over the maintained index, not a stream-stream
    join."""
    from gofast_spark.dedup.minhash import doc_shingles
    from gofast_spark.dedup.ngram import (
        count_distinct_with_null_group,
        ngram_dedup_report_from_shingles,
    )
    from gofast_spark.streaming import read_document_stream, run_available_now
    from gofast_spark.text.analysis import normalize_text

    stream = read_document_stream(spark, sf_dir, glob="documents.parquet")
    sentinel = stream.select(
        "doc_id",
        F.lit(None).cast("bigint").alias("sh_hash"),
        normalize_text("text").alias("__t"),
    )
    shingles = doc_shingles(stream, "doc_id", "text", k=3).select(
        "doc_id",
        F.col("sh_hash").cast("bigint").alias("sh_hash"),
        F.lit(None).cast("string").alias("__t"),
    )
    grid = (
        sentinel.unionByName(shingles)
        .groupBy("doc_id", "sh_hash")
        .agg(F.max("__t").alias("__t"))
    )
    state = run_available_now(grid, mode="complete")
    docs = state.where(F.col("sh_hash").isNull()).select("doc_id", "__t")
    sh = state.where(F.col("sh_hash").isNotNull()).select(
        "doc_id", "sh_hash"
    )
    # n_docs counts DISTINCT doc_id groups INCLUDING the null group
    # (countDistinct alone would silently drop null doc_ids, diverging
    # from the batch twin's count(*) over raw documents even for a
    # single null row).  Input contract shared with the batch entry and
    # doc_shingle_sets: doc_id unique per document — re-deliveries of
    # the SAME doc merge by design; two DIFFERENT docs sharing an id
    # collapse here but count twice in the batch count(*).
    # n_exact_unique = distinct non-null normalized texts.
    stats, _ = pin(
        docs.agg(
            count_distinct_with_null_group("doc_id").alias("n_docs"),
            F.countDistinct("__t").cast("bigint").alias("n_exact_unique"),
        ),
        "stream_dedup_report:stats",
    )
    rep = ngram_dedup_report_from_shingles(
        sh,
        "doc_id",
        stats.select("n_docs"),
        jaccard_threshold=0.8,
        containment_threshold=0.8,
        max_df=64,
    )
    return rep.crossJoin(
        F.broadcast(stats.select("n_exact_unique"))
    ).select(
        "n_docs", "n_exact_unique", "n_candidate_pairs",
        "n_jaccard_pairs", "n_containment_pairs", "n_docs_flagged",
    )


@query(
    "stream_corpus_flagship_card_documents",
    oracle=_ORACLE_SQL2["corpus_flagship_card_documents"],
)
def stream_corpus_flagship_card_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FLAGSHIP release card maintained AS A STREAM (r13 verdict
    ask #4: the streaming twin of corpus_flagship_card_documents) — a
    continuously-ingesting corpus build that keeps ONE presence-native
    state relation and defers the pair joins and sharding to the
    drained index, sharing the batch entry's oracle byte-for-byte.

    The state grid is keyed (doc_id, sh_hash) with TWO row kinds:

    - a SENTINEL row per document (sh_hash NULL) carrying the
      row-local C4/Gopher verdict and the normalized token count —
      the inventory ledger;
    - one row per (doc, 3-gram shingle) over ALL ingested docs, no
      verdict columns — the shingle index.

    Re-delivered docs MERGE on the key in both kinds
    (at-least-once-safe).  Two design points bought a 4x cost cut over
    the naive two-drain layout: (a) a single streaming query drains
    both ledgers (one pass over the source, one state store); (b) the
    keep-FILTER runs post-drain as a doc_id semi-join rather than
    pre-state — on a stream there is no localCheckpoint barrier, so a
    pre-state `where(keep)` collapses the whole filter battery into
    the shingle explode (the r12 53s-vs-4.6s pathology, measured again
    here: 69 s -> 13 s at sf0.1).  The post-drain tail is the SAME
    verified chain as the batch flagship: containment pairs from the
    index (ngram_containment_pairs_from_shingles), drop the
    smaller-set member, survivors, two-phase prefix-sum sharding,
    one-row card.  At 100 TB the grid is the upsert-maintained
    warehouse table pair of streaming/ops.py stream_dedup_index_upsert
    (which also filters post-table, from the persisted verdict) and
    this tail is the nightly release-card job.  Input contract (shared
    with the dedup twin): doc_id unique per document."""
    from gofast_spark.dedup.minhash import doc_shingles
    from gofast_spark.dedup.ngram import (
        count_distinct_with_null_group,
        ngram_containment_pairs_from_shingles,
    )
    from gofast_spark.operators import token_budget_shards
    from gofast_spark.streaming import read_document_stream, run_available_now
    from gofast_spark.text import corpus_filter
    from gofast_spark.text.analysis import normalize_text

    stream = read_document_stream(spark, sf_dir, glob="documents.parquet")
    sentinel = corpus_filter(stream, "text").select(
        "doc_id",
        F.lit(None).cast("bigint").alias("sh_hash"),
        F.col("keep").cast("int").alias("keep"),
        F.size(F.split(normalize_text("text"), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    shingles = doc_shingles(stream, "doc_id", "text", k=3).select(
        "doc_id",
        F.col("sh_hash").cast("bigint").alias("sh_hash"),
        F.lit(None).cast("int").alias("keep"),
        F.lit(None).cast("bigint").alias("n_tokens"),
    )
    grid = (
        sentinel.unionByName(shingles)
        .groupBy("doc_id", "sh_hash")
        .agg(
            F.max("keep").alias("keep"),
            F.max("n_tokens").alias("n_tokens"),
        )
    )
    state = run_available_now(grid, mode="complete")
    docs = state.where(F.col("sh_hash").isNull()).select(
        "doc_id", "keep", "n_tokens"
    )
    kept_ids = docs.where(F.col("keep") == 1).select("doc_id")
    sh, _ = pin(
        state.where(F.col("sh_hash").isNotNull())
        .join(kept_ids, "doc_id", "left_semi")
        .select("doc_id", "sh_hash"),
        "stream_flagship:kept_shingles",
    )
    counts = docs.agg(
        count_distinct_with_null_group("doc_id").alias("n_docs"),
        F.coalesce(F.sum("keep"), F.lit(0)).cast("bigint").alias("n_kept"),
    )
    pairs = ngram_containment_pairs_from_shingles(
        sh, "doc_id", threshold=0.8, max_df=64
    )
    drop = pairs.select(
        F.when(F.col("n_a") < F.col("n_b"), F.col("id_a"))
        .when(F.col("n_b") < F.col("n_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("doc_id")
    ).distinct()
    surv, _ = pin(
        docs.where(F.col("keep") == 1)
        .select("doc_id", "n_tokens")
        .join(drop, "doc_id", "left_anti"),
        "stream_flagship:survivors",
    )
    sharded = token_budget_shards(surv, "doc_id", "n_tokens", budget=2000)
    per = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("tok"))
    card = per.agg(
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.max("tok").cast("bigint").alias("max_shard_tokens"),
        F.sum((F.col("tok") > 2000).cast("int"))
        .cast("bigint")
        .alias("n_shards_over_budget"),
        (
            F.sum("tok").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(2000.0))
        ).alias("mean_fill_ratio"),
    )
    n_surv = surv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_survivors")
    )
    return (
        counts.crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(card))
        .select(
            "n_docs", "n_kept", "n_survivors", "total_tokens",
            "n_shards", "max_shard_tokens", "n_shards_over_budget",
            "mean_fill_ratio",
        )
    )
