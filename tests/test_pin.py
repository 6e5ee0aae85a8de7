"""Contract of ``session.pin``, the one eager-materialization helper:
job count, job labels, description restore, observed metrics on empty
input, and the build-job counts of the loop operators routed through it;
of ``dedup.cluster._cluster_side``, the measured broadcast gate built on
it; and of the aggregate-fed join sides left to AQE, which pin nothing."""

from __future__ import annotations

from pyspark.sql import functions as F

from gofast_spark.dedup.cluster import _cluster_side, keep_canonical
from gofast_spark.session import pin


def _dag(spark):
    return spark.sparkContext._jsc.sc().dagScheduler()


def _jobs(spark, fn):
    """(result of fn(), ids of the Spark jobs it launched)."""
    dag = _dag(spark)
    j0 = dag.numTotalJobs()
    out = fn()
    return out, range(j0, dag.numTotalJobs())


def _descriptions(spark, job_ids):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for j in job_ids:
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def _frame(spark):
    # one shuffle, so the pin runs more than one job under AQE
    return spark.range(200).groupBy((F.col("id") % 7).alias("k")).agg(
        F.sum("id").alias("s")
    )


def test_observed_pin_costs_no_extra_job(spark):
    _, bare = _jobs(spark, lambda: _frame(spark).localCheckpoint(eager=True))
    (out, m), pinned = _jobs(
        spark,
        lambda: pin(
            _frame(spark), "t:obs", n=F.count(F.lit(1)), total=F.sum("s")
        ),
    )
    assert len(pinned) <= len(bare)
    assert m == {"n": 7, "total": sum(range(200))}
    assert out.count() == 7


def test_pin_jobs_carry_label(spark):
    _, ids = _jobs(spark, lambda: pin(_frame(spark), "t:label", n=F.count("*")))
    assert len(ids) >= 1
    assert _descriptions(spark, ids) == ["pin:t:label"] * len(ids)


def test_pin_restores_previous_description(spark):
    sc = spark.sparkContext
    key = "spark.job.description"
    try:
        sc.setJobDescription("caller")
        pin(spark.range(5), "t:restore")
        assert sc.getLocalProperty(key) == "caller"
        sc.setJobDescription(None)
        pin(spark.range(5), "t:restore")
        assert sc.getLocalProperty(key) is None
    finally:
        sc.setJobDescription(None)


def test_pin_restores_description_inside_foreach_batch(
    spark, tmp_path, monkeypatch
):
    import gofast_spark.streaming.ops as ops

    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    seen = []

    def spy(df, label, **kw):
        sc = df.sparkSession.sparkContext
        before = sc.getLocalProperty("spark.job.description")
        out = pin(df, label, **kw)
        seen.append((before, sc.getLocalProperty("spark.job.description")))
        return out

    monkeypatch.setattr(ops, "pin", spy)
    sdf = (
        spark.readStream.schema("id long")
        .parquet(src)
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    out = ops.run_available_now(sdf, mode="complete")
    assert sorted(r["count"] for r in out.collect()) == [6, 7, 7]
    assert seen
    for before, after in seen:
        # the stream's own batch description, put back after the pin
        assert before is not None and not before.startswith("pin:")
        assert after == before


def test_pin_empty_input_metrics(spark):
    empty = spark.range(10).where("id < 0")
    out, m = pin(empty, "t:empty", n=F.count(F.lit(1)), s=F.sum("id"))
    assert m == {"n": 0, "s": None}
    assert out.count() == 0


def test_pin_without_observed_returns_empty_metrics(spark):
    _, m = pin(spark.range(3), "t:bare")
    assert m == {}


def test_loop_operator_build_jobs_unchanged(spark):
    """Build-job counts of three pinned loop operators on tiny inputs,
    as measured before they were routed through ``pin``."""
    from gofast_spark.dedup.cluster import connected_components
    from gofast_spark.ml.graph import kcore_members
    from gofast_spark.operators.funnel import funnel

    steps = ["view", "cart", "buy"]
    ev = spark.createDataFrame(
        [(u, t, s) for u in range(6) for t, s in enumerate(steps[: 1 + u % 3])],
        "user long, ts long, type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    fun, ids = _jobs(spark, lambda: funnel(ev, "user", "ts", "type", steps))
    assert len(ids) == 8
    assert [r["n_users"] for r in fun.orderBy("step_idx").collect()] == [6, 4, 2]
    core, ids = _jobs(spark, lambda: kcore_members(edges, 2))
    assert len(ids) == 17
    assert sorted(r["node"] for r in core.collect()) == [0, 1, 2]
    cc, ids = _jobs(spark, lambda: connected_components(pairs))
    assert len(ids) == 24
    assert sorted((r["id"], r["cluster_id"]) for r in cc.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)
    ]


_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _with_threshold(spark, value, fn):
    prev = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, value)
    try:
        return fn()
    finally:
        spark.conf.set(_THRESHOLD, prev)


def _clusters(spark):
    # 7 rows of (long, long): 7 * 16 = 112 bytes
    return _frame(spark).select(
        F.col("k").alias("id"), F.col("s").alias("cluster_id")
    )


def _gated(spark):
    """A gated operator on tiny frames: keep_canonical broadcasts its
    cluster table through ``_cluster_side`` and hints no other join."""
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (3, 1), (5, 5), (7, 5)], "id long, cluster_id long"
    )
    return keep_canonical(df, clusters, "id")


def _analyzed(df):
    # the optimizer folds ResolvedHint nodes into join hints, so the
    # hint is looked for in the analyzed plan
    return df._jdf.queryExecution().analyzed().toString()


def test_pin_small_frame_gets_broadcast_hint(spark):
    out = _gated(spark)
    assert "ResolvedHint" in _analyzed(out)
    assert len(out.collect()) == 18
    assert "BroadcastHashJoin" in (
        out._jdf.queryExecution().executedPlan().toString()
    )


def test_pin_small_jobs_carry_label_and_observe_count(spark):
    _, bare = _jobs(
        spark, lambda: _clusters(spark).localCheckpoint(eager=True)
    )
    (out, fits), ids = _jobs(
        spark, lambda: _cluster_side(_clusters(spark), "cluster_id", "t")
    )
    # the row count rides the pin's own job: no job beyond the checkpoint
    assert 1 <= len(ids) <= len(bare)
    assert _descriptions(spark, ids) == ["pin:t:clusters"] * len(ids)
    assert fits and out.count() == 7
    assert out.columns == ["__cc_id", "__cc_lab"]


def test_pin_small_budget_is_rows_times_row_size(spark):
    def fits():
        return _cluster_side(_clusters(spark), "cluster_id", "t")[1]

    assert _with_threshold(spark, "112", fits)
    assert not _with_threshold(spark, "111", fits)
    assert not _with_threshold(spark, "0", fits)


def test_pin_small_threshold_off_never_hints(spark):
    hinted = sorted(map(tuple, _gated(spark).collect()))

    def plan_and_rows():
        out = _gated(spark)
        return _analyzed(out), sorted(map(tuple, out.collect()))

    plan, rows = _with_threshold(spark, "-1", plan_and_rows)
    assert "ResolvedHint" not in plan
    assert rows == hinted


def test_aggregate_fed_sides_build_without_jobs_broadcast_at_runtime(spark):
    """target_encode, woe_encode and robust_scale_grouped join a fresh
    aggregate without a pin or a hint: building them launches no Spark
    job, and AQE broadcasts the aggregate from its shuffle statistics
    (the initial plan of these inputs is a sort-merge join)."""
    from gofast_spark.ml.encoding import target_encode, woe_encode
    from gofast_spark.quality.scaling import robust_scale_grouped

    df = spark.createDataFrame(
        [(i, f"c{i % 3}", i % 2, float(i)) for i in range(30)],
        "id long, cat string, y int, x double",
    )
    for build in (
        lambda: target_encode(df, "cat", "y"),
        lambda: woe_encode(df, "cat", "y"),
        lambda: robust_scale_grouped(df, ["x"], ["cat"]),
    ):
        out, ids = _jobs(spark, build)
        assert len(ids) == 0
        assert len(out.collect()) == 30
        final = out._jdf.queryExecution().executedPlan().executedPlan()
        assert "BroadcastHashJoin" in final.toString()
