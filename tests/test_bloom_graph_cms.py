"""Bloom-filter pruning, PageRank, and count-min sketch unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gofast_spark.functions.cms import (
    cms_build,
    cms_estimate,
    cms_heavy_hitters,
    cms_merge,
)
from gofast_spark.ml.graph import edges_from_pairs, pagerank
from gofast_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_semi_join,
)

# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives(spark):
    dim = spark.range(0, 50).withColumnRenamed("id", "k")
    fact = spark.range(0, 500).withColumnRenamed("id", "k")
    bm = bloom_build(dim, "k", n_bits=4096, k=3)
    passed = {
        r.k
        for r in fact.where(bloom_might_contain("k", bm, k=3)).collect()
    }
    assert set(range(50)) <= passed  # every member passes
    # a 4096-bit filter over 50 keys should reject almost everything else
    assert len(passed) < 100


def test_bloom_semi_join_exact(spark):
    dim = spark.range(0, 20).withColumnRenamed("id", "k")
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], ["k", "v"]
    )
    out = bloom_semi_join(fact, dim, fact_key="k")
    assert sorted(r.k for r in out.collect()) == list(range(20))


def test_bloom_build_validates(spark):
    dim = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        bloom_build(dim, "k", n_bits=100)
    with pytest.raises(ValueError):
        bloom_build(dim, "k", k=99)


# ------------------------------------------------------------- pagerank


def test_pagerank_star_graph(spark):
    # undirected star 0-{1,2,3}: center must outrank leaves; leaves equal
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], ["a", "b"]
    )
    e = edges_from_pairs(pairs, "a", "b", undirected=True)
    r = {row.node: row.rank for row in pagerank(e, iterations=10).collect()}
    assert r[0] > r[1]
    assert r[1] == pytest.approx(r[2]) == pytest.approx(r[3])
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_symmetric_cycle_uniform(spark):
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], ["a", "b"]
    )
    e = edges_from_pairs(pairs, "a", "b", undirected=True)
    r = [row.rank for row in pagerank(e, iterations=7).collect()]
    assert all(x == pytest.approx(1 / 3) for x in r)


# ------------------------------------------------------------------ cms


def test_cms_estimates_exact_when_sparse(spark):
    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 2, ["k"]
    )
    sk = cms_build(df, "k", width=256, depth=3)
    est = {
        r.k: r.est
        for r in cms_estimate(
            sk, df.select("k").distinct(), "k", width=256, depth=3
        ).collect()
    }
    # 3 keys in a 256-wide grid: no collisions, estimates exact
    assert est == {"a": 50, "b": 30, "c": 2}


def test_cms_never_underestimates(spark):
    rows = [(f"k{i % 37}",) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k"])
    truth = {r.k: r.cnt for r in df.groupBy("k").agg(
        F.count("*").alias("cnt")).collect()}
    sk = cms_build(df, "k", width=16, depth=3)  # deliberately tiny
    est = {
        r.k: r.est
        for r in cms_estimate(
            sk, df.select("k").distinct(), "k", width=16, depth=3
        ).collect()
    }
    assert all(est[k] >= truth[k] for k in truth)


def test_cms_merge_equals_full_build(spark):
    d1 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, ["k"])
    d2 = spark.createDataFrame([("a",)] * 3 + [("c",)] * 4, ["k"])
    merged = cms_merge(
        cms_build(d1, "k"), cms_build(d2, "k")
    )
    full = cms_build(d1.unionByName(d2), "k")
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b


def test_cms_heavy_hitters_superset(spark):
    rows = [("big",)] * 500 + [(f"s{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, ["k"])
    hh = {r.k for r in cms_heavy_hitters(df, "k", min_share=0.5).collect()}
    assert "big" in hh


def test_pagerank_broadcast_path_matches_smj(spark):
    # the broadcast plan (the only one) against a pure-Python power
    # iteration over the same symmetrized edge set
    raw = [(i, (i * 3) % 11) for i in range(30)]
    pairs = spark.createDataFrame(raw, ["a", "b"])
    e = edges_from_pairs(pairs, "a", "b")
    got = {r.node: r.rank for r in pagerank(e, iterations=4).collect()}

    sym = {(a, b) for a, b in raw} | {(b, a) for a, b in raw}
    nodes = sorted({x for p in sym for x in p})
    outdeg = {v: sum(1 for a, _ in sym if a == v) for v in nodes}
    rank = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(4):
        inc = dict.fromkeys(nodes, 0.0)
        for a, b in sym:
            inc[b] += rank[a] / outdeg[a]
        rank = {v: 0.15 / len(nodes) + 0.85 * inc[v] for v in nodes}
    assert set(got) == set(rank)
    for v in nodes:
        assert got[v] == pytest.approx(rank[v], rel=1e-12)


def test_label_propagation_two_cliques(spark):
    from pyspark.sql import functions as F

    from gofast_spark.ml.graph import edges_from_pairs, label_propagation

    # two 4-cliques joined by one bridge edge: LPA should give each
    # clique one community; deterministic labels = min clique member
    pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs += [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    pairs += [(3, 10)]
    df = spark.createDataFrame(pairs, ["u", "v"])
    e = edges_from_pairs(df, "u", "v", undirected=True)
    out = {r["node"]: r["label"] for r in label_propagation(e, iterations=3).collect()}
    assert len(out) == 8
    assert len({out[n] for n in range(4)}) == 1
    assert len({out[n] for n in range(10, 14)}) == 1
    # determinism under repartitioning
    out2 = {
        r["node"]: r["label"]
        for r in label_propagation(
            e.repartition(7), iterations=3
        ).collect()
    }
    assert out == out2


def test_triangle_count_known_graph(spark):
    from gofast_spark.ml.graph import triangle_count

    # K4 on {0,1,2,3} (4 triangles, each node in 3) plus a pendant node 9
    pairs = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 9)]
    e = spark.createDataFrame(pairs, ["src", "dst"])
    out = {r["node"]: r["triangles"] for r in triangle_count(e).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 9: 0}
    # symmetric/duplicate input edges do not double-count
    e2 = e.unionAll(
        e.selectExpr("dst as src", "src as dst")
    ).unionAll(e)
    out2 = {r["node"]: r["triangles"] for r in triangle_count(e2).collect()}
    assert out2 == out


def test_degree_assortativity_star_is_negative(spark):
    from gofast_spark.ml.graph import degree_assortativity

    # star K1,5: hub degree 5, leaves degree 1 -> perfectly disassortative
    e = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    r = degree_assortativity(e).collect()[0]
    assert r["n_edges"] == 5
    assert r["assortativity"] < -0.99
