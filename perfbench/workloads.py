"""Workloads of the gofast-spark benchmark: named lists of catalog entries
(``gofast_spark.plans.catalog.QUERIES``).

Each workload stresses a different layer, so that an optimisation of one
layer has a workload that exercises it and one that bypasses it:

* ``relational`` -- the work is the final action: scan, Catalyst planning,
  joins, aggregations, windows, shuffle and per-task scheduling.  Building
  the query launches no Spark jobs.  It also holds the Arrow ``mapInPandas`` media card of the LLM
  corpus pipeline, whose Python-worker edge runs inside the final action.
* ``iterative`` -- work that runs eagerly while the catalog builds the
  query: loop operators whose rounds are ``localCheckpoint`` pins, and one
  ``availableNow`` stream drain through ``gofast_spark.streaming`` (state
  store and checkpoint files).  The final action is small.

The workloads are small because a run has about a minute on a 4-vCPU
host: the session starts take about 8 s and the cold pass about 15 s.  A
corpus workload (string-heavy shuffles, persisted-parquet stages) and a
streaming workload (stream twins of the corpus entries) were folded into
these two: with four workloads the benchmark's run count leaves under
40 s a run.  Their layers stay covered: the media card is in
``relational``, the stream drain in ``iterative``.

The cold pass runs a workload's entries in the order listed here, so the
first entry is the one every run's fresh JVM starts with.

``kernel_pca_embeddings`` is left out: it matches the oracle at sf0.01 but
mismatches 902 rows at sf0.1.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "relational": [
        "flagship_revenue_by_region",
        "smart_group_having",
        "cumulative_revenue_by_day",
        "ks_drift_by_type_events",
        "multimodal_media_card_documents",
    ],
    "iterative": [
        "kcore_members_modgraph",
        "streaming_window_counts",
    ],
}

# Data scales shipped under perfbench/data, copies of the project's test
# tables (TESTDATA.md), so that a bare checkout can run the benchmark.  The
# benchmark measures at sf0.01; sf0.001 is the smoke scale.
SCALES = ("sf0.01", "sf0.001")
BENCH_SCALE = "sf0.01"
