"""SparkSession factory with scale-aware config profiles.

The reference has no session concept (pandas is ambient); its closest
analog is the backend selector (``gofast/backends/selector.py:75``) that
picks numpy/dask/cupy.  Here the "backend" is always Spark; this module
centralizes the configuration that matters at 100 TB: AQE (runtime
re-planning + skew-join handling), sensible shuffle partitioning, Arrow
for the pandas-UDF slow path, and broadcast thresholds.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# Defaults tuned for the local[32] test harness; on a real cluster the
# user overrides master/partitions via env or kwargs.  AQE coalesces
# post-shuffle partitions at runtime, so a high static number is safe.
_LOCAL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # keep stage-progress bars off stdout so harness JSON lines stay
    # machine-parseable (r6 driver bench-parse failure)
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # NOTE: no legacy nanosAsLong default — sources.events sets it lazily
    # iff a TIMESTAMP(NANOS) parquet footer is actually encountered.
}


def get_session(
    app_name: str = "gofast-spark",
    master: str | None = None,
    **conf: str,
) -> SparkSession:
    """Create or reuse a SparkSession with engine defaults.

    Parameters mirror what the reference exposes through backend selection
    (``gofast/backends/selector.py:512`` ``select_backend_n``): the caller
    names a compute profile; we translate to Spark config.

    ``conf`` kwargs override defaults (use the full Spark key, e.g.
    ``**{"spark.sql.shuffle.partitions": "2000"}`` for cluster scale).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = {**_LOCAL_DEFAULTS, **conf}
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


_JOB_DESC = "spark.job.description"


def pin(
    df: DataFrame, label: str, *, sink: str | None = None, **observed: Column
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` now and return ``(pinned frame, metrics)``.

    Loop and multi-leg operators pin intermediate frames while the query
    is built, the Spark analogue of the reference's eager pandas steps:
    the frame is computed once, its lineage is cut, and later legs read
    the result instead of replaying the plan.

    ``sink=None`` uses ``localCheckpoint(eager=True)``: one job, but the
    blocks are executor-local and die with their executor, so a lost
    executor loses the pinned stage.  ``sink='<path or table>'`` is the
    replayable layout: the frame is written as parquet and read back, so
    any executor can re-read any split and later predicates push into
    the scan.  A value containing ``/`` (every URI does) is a filesystem
    path; anything else, dotted or catalog-qualified names included, is
    a warehouse table written with ``saveAsTable``.

    ``observed`` aggregates (e.g. ``n=F.count(F.lit(1))``) are folded
    into the same job through one ``Observation`` and returned by name,
    so a count of the pinned frame costs no extra job; with nothing
    observed the metrics are ``{}``.  Observed aggregates must not use
    ``distinct``, and their values exist only once the pin has run.

    Every job the pin launches is described ``pin:<label>``; the
    caller's previous job description is restored afterwards.
    """
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty(_JOB_DESC)
    sc.setJobDescription(f"pin:{label}")
    try:
        obs = None
        if observed:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in observed.items()])
        if sink is None:
            df = df.localCheckpoint(eager=True)
        elif "/" in sink:
            df.write.mode("overwrite").parquet(sink)
            df = df.sparkSession.read.parquet(sink)
        else:
            df.write.mode("overwrite").format("parquet").saveAsTable(sink)
            df = df.sparkSession.table(sink)
        return df, (obs.get if obs is not None else {})
    finally:
        sc.setLocalProperty(_JOB_DESC, prev)

