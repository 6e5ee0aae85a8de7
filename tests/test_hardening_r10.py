"""Round-10 hardening: observation-report integer arithmetic, binding
basket cap at adversarial scale, and repartition-invariance of the
driver-window entries (r9 verdict asks #2/#5, ADVICE items #1-#3)."""

from __future__ import annotations

import logging
from types import SimpleNamespace

import pytest

from tests.oracle_util import normalize_rows


def test_observed_numeric_rows_integer_ppm():
    """null_ppm is exact integer arithmetic (unit*nulls)//n — the float
    path floor(unit*nulls/n) is 1 ulp high for this witness (ppm 999999
    instead of 999998), the ADVICE r9 #3 failure mode once unit*nulls
    crosses 2**53."""
    from gofast_spark.quality.observe import observed_numeric_rows

    nulls, n = 999999000999998, 1000000000999999
    import math

    assert int(math.floor(1_000_000 * nulls / n)) == 999999  # float is WRONG
    obs = SimpleNamespace(
        get={"n_rows": n, "c__nulls": nulls, "c__min": None, "c__max": None}
    )
    rows = observed_numeric_rows(obs)
    assert rows == [("c", n, nulls, 999998, None, None)]


def test_exact_ppm_sql_overflow_safe(spark):
    """The staged bigint division stays exact where the naive
    (unit*nulls) DIV n would overflow int64 (nulls > ~9.2e12), and
    reproduces the 1-ulp float witness exactly."""
    from gofast_spark.quality.observe import exact_ppm_sql

    cases = [
        (999999000999998, 1000000000999999, 999998),  # float path says 999999
        (10**13, 2 * 10**13, 500000),  # 1e6 * 1e13 = 1e19 > 2**63
        (4 * 10**15, 9 * 10**15, 444444),
        (0, 5, 0),
        (5, 5, 1000000),
    ]
    df = spark.createDataFrame(
        [(nu, nn) for nu, nn, _ in cases], "n_nulls long, n_rows long"
    )
    got = [
        r[0]
        for r in df.selectExpr(exact_ppm_sql()).collect()
    ]
    assert got == [exp for _, _, exp in cases]
    import duckdb

    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT {exact_ppm_sql(str(nu), str(nn), dialect='duckdb')}"
        ).fetchone()[0]
        for nu, nn, _ in cases
    ]
    con.close()
    assert duck == [exp for _, _, exp in cases]  # oracle-reusable algebra


def test_exact_ppm_sql_property():
    """Property check (no Spark roundtrip — DuckDB evaluates the
    duckdb dialect, and the spark dialect's DIV/% on non-negative
    bigints is replayed with Python // and %): the staged division
    equals the arbitrary-precision floor for any nulls <= n up to the
    documented ~9.2e15-row bound, units 10^0..10^6."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gofast_spark.quality.observe import exact_ppm_sql

    con = duckdb.connect()

    @settings(max_examples=300, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=9 * 10**15),
        frac=st.fractions(min_value=0, max_value=1),
        exp=st.integers(min_value=0, max_value=6),
    )
    def check(n, frac, exp):
        nulls = min(n, int(frac * n))
        unit = 10**exp
        expected = (unit * nulls) // n
        # literals parse as INT32 in DuckDB; real uses divide BIGINT
        # columns, so mirror that typing explicitly
        got = con.execute(
            "SELECT " + exact_ppm_sql(
                f"CAST({nulls} AS BIGINT)", f"CAST({n} AS BIGINT)",
                unit, "duckdb",
            )
        ).fetchone()[0]
        assert got == expected
        # replay the spark dialect's algebra exactly: DIV == // and %
        # are identical for non-negative bigints, and Python shares the
        # */+ precedence, so evaluating the emitted text IS the algebra
        sql = exact_ppm_sql(str(nulls), str(n), unit, "spark")
        inner = sql[len("CAST("):-len(" AS BIGINT)")]
        got_spark = eval(inner.replace(" DIV ", "//"))  # noqa: S307 — our own emitted text
        assert got_spark == expected

    check()
    con.close()


def test_quality_relational_matches_observed(spark):
    """The computed relational report (what observed_report_lineitem now
    RETURNS) and the observation-literal report (what it asserts
    against) agree cell-for-cell, including all-null and null-free
    columns."""
    from gofast_spark.quality.observe import (
        observe_quality,
        observed_numeric_rows,
        quality_report_relational,
    )

    df = spark.createDataFrame(
        [(1.5, None), (2.25, None), (None, None), (0.5, None)],
        "x double, y double",
    )
    observed, obs = observe_quality(df, ["x", "y"])
    observed.write.format("noop").mode("overwrite").save()
    harvested = observed_numeric_rows(obs)
    computed = sorted(
        tuple(r) for r in quality_report_relational(df, ["x", "y"]).collect()
    )
    assert computed == sorted(harvested)
    x = dict(zip(["column", "n_rows", "n_nulls", "null_ppm", "min_u6",
                  "max_u6"], harvested[0]))
    assert x == {"column": "x", "n_rows": 4, "n_nulls": 1,
                 "null_ppm": 250000, "min_u6": 500000, "max_u6": 2250000}
    y = harvested[1]
    assert y[2] == 4 and y[3] == 1_000_000 and y[4] is None and y[5] is None


def test_observed_report_entry_asserts_in_plan(sf_small, spark):
    """The restructured entry returns a COMPUTED plan (no LocalRelation
    of driver literals — the r8/r9 driver-red shape) and still runs the
    in-entry observation-vs-aggregate assertion without raising."""
    from gofast_spark.plans.catalog import QUERIES

    df = QUERIES["observed_report_lineitem"](spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan, plan
    assert df.count() == 2


def test_support_floor_reapplied_on_capped_corpus(spark):
    """An item whose support cleared min_count only thanks to a
    dropped oversized basket must NOT reach the pair join: its
    capped-corpus support is below the floor, and item_similarity_topk
    has no later pair-support filter to subsume it (frequent_pairs
    does via n_pair >= min_support)."""
    from gofast_spark.ml.recommend import item_similarity_topk

    organic = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
               (3, "a"), (3, "b")]
    # two oversized bot baskets sharing 20 items so the bot items pass
    # the min_count=2 prune and the baskets stay oversized POST-prune;
    # 'c' rides in one of them, lifting its pre-cap support to 2
    bots = [(90 + k, f"x{i}") for k in (0, 1) for i in range(20)]
    bots.append((90, "c"))
    df = spark.createDataFrame(organic + bots, "bk int, it string")

    got = item_similarity_topk(
        df, "bk", "it", min_count=2, k=5, max_basket_size=10
    ).collect()
    names = {r["item"] for r in got} | {r["neighbor"] for r in got}
    assert "c" not in names, got  # capped-corpus support 1 < min_count
    assert names == {"a", "b"}
    ab = [r for r in got if r["item"] == "a"]
    assert ab[0]["n_both"] == 3 and ab[0]["n_item"] == 3


@pytest.mark.stress
def test_mega_basket_cap_binds_at_scale(spark, caplog):
    """A 100k-item bot basket (the adversarial case the cap exists for):
    the cap BINDS, the basket never reaches the pair self-join — so no
    join key owns more than cap-choose-2 pairs — and the organic pairs
    plus their capped-corpus supports survive intact."""
    from pyspark.sql import functions as F

    from gofast_spark.ml.itemsets import cap_basket_size, frequent_pairs

    mega = spark.range(100_000).select(
        F.lit(0).alias("bk"), F.concat(F.lit("x"), F.col("id")).alias("it")
    )
    organic = spark.range(1, 501).selectExpr(
        "CAST(id AS INT) AS bk",
        "stack(2, 'a', 'b') AS it",
    )
    df = organic.unionByName(mega)

    cap = 1_000
    pruned = df.selectExpr("bk", "it", "CAST(1 AS BIGINT) AS n_it")
    with caplog.at_level(logging.WARNING, "gofast_spark.ml.itemsets"):
        capped, n_dropped = cap_basket_size(pruned, cap)
    assert n_dropped == 1
    sizes = capped.groupBy("bk").count().agg(F.max("count")).first()[0]
    assert sizes <= cap  # no join key can own > cap*(cap-1)/2 pairs

    # min_support=1 keeps every bot item past the Apriori prune (with
    # min_support=2 the prune alone would empty the mega basket and the
    # cap would never bind).  Under a 1 MiB broadcast threshold AQE
    # does not broadcast the 100k+2-item frequent vocabulary (the prune
    # runs as a sort-merge join), so this also exercises the
    # non-broadcast prune path
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(1024 * 1024))
    try:
        got = frequent_pairs(
            df, "bk", "it", min_support=1, top_k=10, max_basket_size=cap
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert [(r["item_a"], r["item_b"], r["n_pair"], r["n_a"], r["n_b"])
            for r in got] == [("a", "b", 500, 500, 500)]
    # lift over the capped corpus: 500 baskets, 500*500/(500*500) = 1.0
    assert got[0]["lift"] == pytest.approx(1.0)


@pytest.mark.stress
def test_never_green_repartition_invariance(spark, sf_small):
    """Every entry the NEXT driver run will check — the 50-slot window
    (which at zero-queue steady state is pure re-verification, so this
    never degenerates to an empty list) plus any never-driver-checked
    entry still queued behind it — returns IDENTICAL normalized output
    when both the shuffle-partition count (3 vs the session's 8/32)
    and the scan split size (1 MiB maxPartitionBytes → many more input
    partitions) change — the partition-count hazards the r9 bare-local
    re-verification used to catch manually (r9 verdict ask #5b), now a
    marked test that pre-validates future windows too.

    The SQL cache is cleared before EACH run: entries that persist()
    internally (the basket miners) would otherwise serve run B from run
    A's materialized partitions, and the config variation would never
    reach their plans — the comparison would be run A against itself."""
    from itertools import zip_longest

    from gofast_spark.plans.catalog import _DRIVER_VERIFIED, QUERIES

    window = list(QUERIES)[:50]
    never = [n for n in QUERIES if n not in _DRIVER_VERIFIED]
    names = window + [n for n in never if n not in window]
    base_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    base_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    failures = []
    for name in names:
        fn = QUERIES[name]
        try:
            spark.catalog.clearCache()
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
            df_a = fn(spark, sf_small)
            a, cols_a = normalize_rows(
                df_a.columns, [tuple(r) for r in df_a.collect()]
            )
            spark.conf.set("spark.sql.shuffle.partitions", base_shuffle)
            spark.conf.set("spark.sql.files.maxPartitionBytes", base_split)
            spark.catalog.clearCache()
            df_b = fn(spark, sf_small)
            b, cols_b = normalize_rows(
                df_b.columns, [tuple(r) for r in df_b.collect()]
            )
            if (a, cols_a) != (b, cols_b):
                if len(a) != len(b):
                    failures.append((name, f"row count {len(a)} vs {len(b)}"))
                else:
                    diff = [
                        i
                        for i, (x, y) in enumerate(zip_longest(a, b))
                        if x != y
                    ]
                    failures.append((name, f"first diff rows {diff[:3]}"))
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures.append((name, f"raised {type(e).__name__}: {e}"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", base_shuffle)
            spark.conf.set("spark.sql.files.maxPartitionBytes", base_split)
    assert not failures, failures
