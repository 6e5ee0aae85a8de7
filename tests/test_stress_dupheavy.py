"""Duplicate-heavy adversarial stress run (SURVEY §9, VERDICT r6 #7).

Every document gets N_COPIES-1 near-identical copies, so candidate
pairs approach corpus x N_COPIES — the exact regime where the MinHash
verify stage must refuse to broadcast the candidate set frames (its
``_BROADCAST_CANDIDATES`` gate) and connected components must label a
vertex set whose every node has N_COPIES-1 edges.  The assertion is on
SHAPE, not wall-clock: both stages complete through the non-broadcast
path and produce the structurally-expected counts, which regresses
loudly if a future edit re-broadcasts unbounded frames (OOM/timeout
here) or breaks gate plumbing.

Opt in with ``pytest -m stress`` (excluded from default runs via
pytest.ini addopts).  Scale via SPARK_GRAFT_STRESS_DOCS (default 5000
base docs x 20 copies = 100k rows on the sf0.1 documents table when
available, falling back to sf0.01).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.stress


def _docs_dir() -> str:
    for sf in ("0.1", "0.01", "0.001"):
        p = f"/root/testdata/sf{sf}/documents.parquet"
        if os.path.exists(p):
            return p
    pytest.skip("no documents table available")


N_COPIES = 20


def test_dup_heavy_pairs_and_cc_scale_with_volume(spark):
    from gofast_spark.dedup.cluster import connected_components
    from gofast_spark.dedup.minhash import near_dup_pairs

    base_n = int(os.environ.get("SPARK_GRAFT_STRESS_DOCS", "5000"))
    docs = (
        spark.read.parquet(_docs_dir())
        .select("doc_id", "text")
        .limit(base_n)
    )
    # every doc replicated N_COPIES times with distinct ids and a tiny
    # suffix perturbation -> every doc has N_COPIES-1 near-dup copies
    corpus = docs.crossJoin(
        spark.range(N_COPIES).select(F.col("id").alias("rep"))
    ).select(
        F.concat_ws("_", "doc_id", "rep").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.col("rep").cast("string")).alias(
            "text"
        ),
    )
    n_docs = corpus.count()
    assert n_docs == base_n * N_COPIES

    t0 = time.perf_counter()
    pairs = near_dup_pairs(
        corpus,
        "doc_id",
        "text",
        threshold=0.7,
    )
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0

    # candidate pairs must vastly exceed the broadcast gate (that is the
    # point of the scenario) yet the run completed -> non-broadcast path
    assert n_pairs > 50_000, n_pairs
    # every replica group contributes up to C(N_COPIES,2) verified pairs
    assert n_pairs <= n_docs * N_COPIES

    t0 = time.perf_counter()
    labels = connected_components(pairs)
    n_labelled = labels.count()
    n_clusters = labels.select("cluster_id").distinct().count()
    t_cc = time.perf_counter() - t0

    assert n_labelled <= n_docs
    # clusters can only merge within a replica group (distinct base docs
    # share no shingles), so at most base_n clusters
    assert n_clusters <= base_n
    print(
        f"\nstress: {n_docs} docs, {n_pairs} pairs in {t_pairs:.1f}s, "
        f"{n_labelled} labelled into {n_clusters} clusters in {t_cc:.1f}s"
    )
