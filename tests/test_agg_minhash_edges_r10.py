"""Direct edge-case tests for operators/aggregations.py and the
dedup/minhash.py helper layer — HAVING semantics, cumprod zero/sign
tracking, short-document shingles, fragment merging, hand-computed
Jaccard, and the LSH S-curve closed form."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


class TestAggregations:
    def test_group_and_aggregate_spec_and_dropna(self, spark):
        from gofast_spark.operators.aggregations import group_and_aggregate

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), (None, 9.0), ("b", 5.0)],
            "g string, v double",
        )
        out = group_and_aggregate(
            df, "g", {"v": ["sum", "mean", "nunique"]}
        )
        assert set(out.columns) == {"g", "v_sum", "v_mean", "v_nunique"}
        rows = {r["g"]: r for r in out.collect()}
        assert len(rows) == 3 and None in rows  # Spark keeps NULL group
        assert rows["a"]["v_sum"] == 4.0 and rows["a"]["v_mean"] == 2.0
        dropped = group_and_aggregate(df, "g", {"v": "sum"}, dropna=True)
        assert dropped.count() == 2
        with pytest.raises(ValueError):
            group_and_aggregate(df, "g", {"v": "nope"})

    def test_smart_group_having_and_sort(self, spark):
        from gofast_spark.operators.aggregations import smart_group

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 10.0), ("c", 2.0)],
            "g string, v double",
        )
        out = smart_group(
            df, "g", {"v": "sum"},
            having={"v_sum": (">", 3.0)}, sort_by="v_sum",
        ).collect()
        # HAVING keeps b (10) and a (4); default sort descending
        assert [(r["g"], r["v_sum"]) for r in out] == [
            ("b", 10.0), ("a", 4.0)
        ]

    def test_callable_agg_pandas_udf_path(self, spark):
        from gofast_spark.operators.aggregations import group_and_aggregate

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 7.0)], "g string, v double"
        )

        def spread(s):
            return s.max() - s.min()

        out = group_and_aggregate(df, "g", {"v": spread})
        got = {r["g"]: r["v_spread"] for r in out.collect()}
        assert got == {"a": 1.0, "b": 0.0}

    def test_cumulative_ops_cumprod_zero_and_sign(self, spark):
        from gofast_spark.operators.aggregations import cumulative_ops

        df = spark.createDataFrame(
            [(1, 2.0), (2, -3.0), (3, 0.0), (4, 5.0)], "t int, v double"
        )
        out = (
            cumulative_ops(df, "v", "t", op="cumprod").orderBy("t").collect()
        )
        got = [r["v_cumprod"] for r in out]
        assert got[0] == pytest.approx(2.0)
        assert got[1] == pytest.approx(-6.0)  # sign parity tracked
        assert got[2] == 0.0 and got[3] == 0.0  # zero absorbs forever
        cs = cumulative_ops(df, "v", "t", op="cumsum").orderBy("t").collect()
        assert [r["v_cumsum"] for r in cs] == [2.0, -1.0, -1.0, 4.0]
        with pytest.raises(ValueError):
            cumulative_ops(df, "v", "t", op="nope")

    def test_category_count_and_unique_values(self, spark):
        from gofast_spark.operators.aggregations import (
            category_count,
            check_unique_values,
        )

        df = spark.createDataFrame(
            [("x", "u", 1), ("x", "w", 2), ("y", "u", 3)],
            "a string, b string, n int",
        )
        got = {
            (r["column"], r["value"]): r["count"]
            for r in category_count(df).collect()
        }
        # string columns only by default
        assert got == {
            ("a", "x"): 2, ("a", "y"): 1, ("b", "u"): 2, ("b", "w"): 1
        }
        uniq = {
            r["column"]: (r["n_unique"], r["unique_ratio"])
            for r in check_unique_values(df).collect()
        }
        assert uniq["a"] == (2, pytest.approx(2 / 3))
        assert uniq["n"] == (3, pytest.approx(1.0))


class TestMinhashHelpers:
    def test_doc_shingle_sets_short_doc_single_shingle(self, spark):
        from gofast_spark.dedup.minhash import doc_shingle_sets

        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "a b c d")], "id bigint, text string"
        )
        out = {
            r["id"]: r["sh_set"]
            for r in doc_shingle_sets(df, "id", "text", k=3).collect()
        }
        assert len(out[1]) == 1  # < k tokens -> whole doc is one shingle
        assert len(out[2]) == 2  # 4 tokens, k=3 -> 2 shingles

    def test_doc_shingle_sets_merge_fragments(self, spark):
        from gofast_spark.dedup.minhash import doc_shingle_sets

        whole = spark.createDataFrame(
            [(1, "a b c d e f")], "id bigint, text string"
        )
        frags = spark.createDataFrame(
            [(1, "a b c d"), (1, "c d e f")], "id bigint, text string"
        )
        w = doc_shingle_sets(whole, "id", "text", k=3).first()["sh_set"]
        m = doc_shingle_sets(
            frags, "id", "text", k=3, merge_fragments=True
        )
        rows = m.collect()
        assert len(rows) == 1  # one row per id after the merge
        merged = rows[0]["sh_set"]
        # fragment union covers every whole-doc shingle (boundary
        # shingles may add extras, never drop)
        assert set(w) <= set(merged)

    def test_signatures_and_identical_docs_collide_all_bands(self, spark):
        from gofast_spark.dedup.minhash import (
            doc_shingle_sets,
            lsh_band_keys,
            minhash_signatures_from_sets,
        )

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"),
             (2, "the quick brown fox jumps"),
             (3, "completely different words here now")],
            "id bigint, text string",
        )
        sets_df = doc_shingle_sets(df, "id", "text", k=2)
        sig = minhash_signatures_from_sets(
            sets_df, "id", num_hashes=8, include_size=True
        )
        rows = {r["id"]: r for r in sig.collect()}
        assert [rows[1][f"mh_{j}"] for j in range(8)] == [
            rows[2][f"mh_{j}"] for j in range(8)
        ]
        keys = lsh_band_keys(sig, "id", num_hashes=8, rows_per_band=2)
        k1 = {(r["band_idx"], r["band_key"])
              for r in keys.where(F.col("id") == 1).collect()}
        k2 = {(r["band_idx"], r["band_key"])
              for r in keys.where(F.col("id") == 2).collect()}
        k3 = {(r["band_idx"], r["band_key"])
              for r in keys.where(F.col("id") == 3).collect()}
        assert k1 == k2 and len(k1) == 4  # identical docs: all 4 bands
        assert not (k1 & k3)

    def test_shingle_jaccard_hand_computed(self, spark):
        from gofast_spark.dedup.minhash import shingle_jaccard

        # A = {1,2,3}, B = {2,3,4,5}: J = 2/5
        shingles = spark.createDataFrame(
            [("A", 1), ("A", 2), ("A", 3),
             ("B", 2), ("B", 3), ("B", 4), ("B", 5)],
            "id string, sh_hash bigint",
        )
        pairs = spark.createDataFrame([("A", "B")], "id_a string, id_b string")
        r = shingle_jaccard(shingles, pairs, "id").first()
        assert r["jaccard"] == pytest.approx(0.4)

    def test_lsh_collision_curve_closed_form(self, spark):
        from gofast_spark.dedup.minhash import lsh_collision_curve

        out = lsh_collision_curve(
            spark, num_hashes=16, rows_per_band=2, steps=19
        ).collect()
        assert len(out) == 19
        for r in out:
            s = r["s"]
            assert r["p_candidate"] == pytest.approx(
                1 - (1 - s**2) ** 8, abs=5e-6
            )
            assert r["threshold_est"] == pytest.approx(
                (1 / 8) ** 0.5, abs=1e-6
            )
        with pytest.raises(ValueError):
            lsh_collision_curve(spark, num_hashes=16, rows_per_band=3)
