"""``tools/survey.py`` in-process: the pin rounds it reads from the SQL
status store equal the calls the operator makes, it launches no Spark job
beyond those of the entries, and it leaves no stream listener behind."""

from __future__ import annotations

from tools.survey import survey


def test_survey_pins_jobs_and_listener(spark, sf_small, monkeypatch):
    import gofast_spark.ml.graph as graph

    labels = []
    real_pin = graph.pin

    def counting_pin(df, label, **kwargs):
        labels.append(label)
        return real_pin(df, label, **kwargs)

    monkeypatch.setattr(graph, "pin", counting_pin)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    listeners = len(spark.streams._jsqm.listListeners())
    first_job = dag.numTotalJobs()
    out = survey(spark, ["kcore_members_modgraph",
                         "flagship_revenue_by_region"], sf_small, reps=1)
    end_job = dag.numTotalJobs()
    listeners_after = len(spark.streams._jsqm.listListeners())

    kcore = out["kcore_members_modgraph"]
    rounds = kcore["pins"]["kcore:round"]
    # the warm run and the measured rep build the same query
    assert rounds["calls"] >= 1
    assert 2 * rounds["calls"] == labels.count("kcore:round")
    assert rounds["jobs"] >= rounds["calls"]
    # every job of k-core's build is a pin's
    assert sum(p["jobs"] for p in kcore["pins"].values()) == kcore["build_jobs"]
    assert kcore["build_jobs"] + kcore["jobs"] == sum(kcore["run_jobs"][1])

    flagship = out["flagship_revenue_by_region"]
    assert flagship["build_jobs"] == 0
    assert flagship["pins"] == {}
    # the same build and action outside the survey launch as many jobs
    from gofast_spark.plans.catalog import QUERIES

    before = dag.numTotalJobs()
    QUERIES["flagship_revenue_by_region"](spark, sf_small).write.format(
        "noop").mode("overwrite").save()
    assert dag.numTotalJobs() - before == flagship["jobs"] > 0

    assert end_job - first_job == sum(
        build + action
        for entry in out.values() for build, action in entry["run_jobs"]
    )
    assert listeners_after == listeners
