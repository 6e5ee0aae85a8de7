"""Round-11 additions: SMBO sequential search, basket-cache release
hook, quality-report identifier escaping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestSmboQuadraticRidge:
    def test_smbo_sequence_and_schema(self, spark):
        from gofast_spark.ml.selection import smbo_quadratic_ridge

        # y = 2 + 3*x1 + 0*x2 + deterministic pseudo-noise: enough ids
        # that all 4 folds are populated
        rows = [
            (i, float(i % 17), float(i % 5),
             2.0 + 3.0 * (i % 17) + 0.01 * ((i * 7) % 11))
            for i in range(400)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, x1 double, x2 double, y double"
        )
        grid = [0.0, 0.1, 1.0, 10.0, 100.0, 1000.0, 10000.0, 100000.0]
        out = smbo_quadratic_ridge(
            df, ["x1", "x2"], "y", id_col="id", grid=grid, rounds=3, k=4
        ).collect()
        assert len(out) == 6
        assert [r["step"] for r in out] == list(range(6))
        assert [r["phase"] for r in out] == ["init"] * 3 + ["smbo"] * 3
        # initial design is ends + middle
        assert [r["grid_j"] for r in out[:3]] == [0, 4, 7]
        # picks are unobserved and unique
        picked = [r["grid_j"] for r in out]
        assert len(set(picked)) == 6
        # every lam maps back to the grid
        for r in out:
            assert r["lam"] == grid[r["grid_j"]]
        # mean_rmse carries the exact 1e-4 quantization (u4 domain)
        for r in out:
            assert abs(r["mean_rmse"] * 1e4 - round(r["mean_rmse"] * 1e4)) < 1e-6

    def test_smbo_acquisition_prefers_surrogate_minimum(self, spark):
        """With a convex response surface the first acquisition must
        land strictly between the best observed init points, not at a
        random index — the model-based property that distinguishes
        SMBO from random search."""
        from gofast_spark.ml.selection import smbo_quadratic_ridge

        rows = [
            (i, float((i * 13) % 23), float((i * 5) % 7),
             1.0 + 0.5 * ((i * 13) % 23) - 0.2 * ((i * 5) % 7)
             + 0.3 * ((i * i) % 13))  # non-linear residual: SSE > 0
            for i in range(600)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, x1 double, x2 double, y double"
        )
        grid = [10.0 ** (p - 4) for p in range(12)]  # 1e-4 .. 1e7
        out = smbo_quadratic_ridge(
            df, ["x1", "x2"], "y", id_col="id", grid=grid, rounds=2, k=4
        ).collect()
        init = {r["grid_j"]: r["mean_rmse"] for r in out[:3]}
        first_pick = out[3]["grid_j"]
        assert first_pick not in init
        # the quadratic through 3 points is exact, so the pick is the
        # surrogate argmin over unobserved indices — recompute it
        import math

        pts = sorted(init.items())
        xs = [p[0] for p in pts]
        ys = [int(math.floor(p[1] * 1e4 + 0.5)) for p in pts]
        best, best_mu = None, None
        # quadratic through 3 points via Lagrange (values only needed
        # at integer j, and the surrogate interpolates exactly)
        for j in range(len(grid)):
            if j in init:
                continue
            mu = 0.0
            for a in range(3):
                term = float(ys[a])
                for b2 in range(3):
                    if a != b2:
                        term *= (j - xs[b2]) / (xs[a] - xs[b2])
                mu += term
            if best_mu is None or mu < best_mu - 1e-6:
                best, best_mu = j, mu
        assert first_pick == best

    def test_smbo_validates_inputs(self, spark):
        from gofast_spark.ml.selection import smbo_quadratic_ridge

        df = spark.createDataFrame(
            [(1, 1.0, 1.0, 1.0)], "id bigint, x1 double, x2 double, y double"
        )
        with pytest.raises(ValueError, match="grid"):
            smbo_quadratic_ridge(
                df, ["x1", "x2"], "y", id_col="id", grid=[1.0, 2.0]
            )
        with pytest.raises(ValueError, match="rounds"):
            smbo_quadratic_ridge(
                df, ["x1", "x2"], "y", id_col="id",
                grid=[0.0, 1.0, 2.0, 3.0], rounds=0,
            )
        with pytest.raises(ValueError, match="unobserved"):
            smbo_quadratic_ridge(
                df, ["x1", "x2"], "y", id_col="id",
                grid=[0.0, 1.0, 2.0, 3.0], rounds=2,
            )


class TestReleaseBasketCaches:
    def test_release_unpersists_and_clears(self, spark):
        """The basket-size guard persists nothing: repeated builds of a
        capped miner leave the session's CacheManager empty (each build
        mines a fresh ``baskets:items`` pin, so a persisted entry could
        never be reused, only leak)."""
        from gofast_spark.ml.itemsets import frequent_pairs

        spark.catalog.clearCache()
        rows = [(b, f"i{i}") for b in range(20) for i in range(b % 5 + 2)]
        df = spark.createDataFrame(rows, "bk bigint, it string")
        for _ in range(3):
            frequent_pairs(
                df, "bk", "it", min_support=2, max_basket_size=4
            ).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestGroupedSurvival:
    def _surv_df(self, spark):
        # two segments with different hazard profiles, 25% censoring
        rows = []
        for i in range(240):
            seg = "a" if i % 2 == 0 else "b"
            dur = (i * 7) % 13 + (3 if seg == "b" else 0) + 1
            ev = 0 if i % 4 == 0 else 1
            grp = (i // 2) % 2
            rows.append((seg, dur, ev, grp))
        return spark.createDataFrame(
            rows, "seg string, dur bigint, ev int, grp int"
        )

    def test_grouped_cox_matches_per_segment_fit(self, spark):
        from gofast_spark.stats.survival import (
            cox_ph_binary,
            cox_ph_binary_grouped,
        )

        df = self._surv_df(spark)
        got = {
            r["segment"]: r
            for r in cox_ph_binary_grouped(
                df, "dur", "ev", "grp", "seg", iterations=3
            ).collect()
        }
        assert set(got) == {"a", "b"}
        for seg in ("a", "b"):
            solo = cox_ph_binary(
                df.where(F.col("seg") == seg), "dur", "ev", "grp",
                iterations=3,
            ).collect()[0]
            # bit-identical: same quantized summands, same fold of
            # the Newton chain
            assert got[seg]["beta"] == solo["beta"]
            assert got[seg]["n_events"] == solo["n_events"]
            assert got[seg]["se"] == solo["se"]

    def test_grouped_rmst_keeps_eventless_segments(self, spark):
        from gofast_spark.stats.survival import (
            restricted_mean_survival_grouped,
        )

        rows = [("ok", t, 1) for t in (1, 2, 3)] * 5
        rows += [("late", 400, 1)] * 5  # first failure past the horizon
        rows += [("cens", t, 0) for t in (1, 2, 3)]  # all censored
        df = spark.createDataFrame(rows, "seg string, dur bigint, ev int")
        got = {
            r["segment"]: r
            for r in restricted_mean_survival_grouped(
                df, "dur", "ev", "seg", tau=300.0
            ).collect()
        }
        assert set(got) == {"ok", "late", "cens"}
        # survival is 1 on [0, tau] for both degenerate strata
        assert got["late"]["rmst"] == 300.0
        assert got["cens"]["rmst"] == 300.0
        assert got["cens"]["n_times"] == 0
        assert got["ok"]["rmst"] < 300.0

    def test_grouped_rmst_matches_per_segment(self, spark):
        from gofast_spark.stats.survival import (
            restricted_mean_survival,
            restricted_mean_survival_grouped,
        )

        df = self._surv_df(spark)
        got = {
            r["segment"]: r
            for r in restricted_mean_survival_grouped(
                df, "dur", "ev", "seg", tau=12.0
            ).collect()
        }
        for seg in ("a", "b"):
            solo = restricted_mean_survival(
                df.where(F.col("seg") == seg), "dur", "ev", tau=12.0
            ).collect()[0]
            assert got[seg]["rmst"] == pytest.approx(solo["rmst"], abs=1e-9)
            assert got[seg]["n_times"] == solo["n_times"]

    def test_km_median_grouped(self, spark):
        from gofast_spark.stats.survival import km_median_grouped

        # segment 'fast': all fail at t=1,2 (no censoring) -> median 1
        # (S(1) = 0.5 <= 0.5); segment 'censored': one early event then
        # censoring only -> curve stays at ~0.9 -> NULL median
        rows = [("fast", 1, 1)] * 5 + [("fast", 2, 1)] * 5
        rows += [("censored", 1, 1)] + [("censored", t, 0)
                                        for t in range(2, 11)]
        # a segment with rows but NO observed events must still appear
        rows += [("allcens", t, 0) for t in range(1, 6)]
        df = spark.createDataFrame(rows, "seg string, dur bigint, ev int")
        got = {
            r["segment"]: r
            for r in km_median_grouped(df, "dur", "ev", "seg").collect()
        }
        assert set(got) == {"fast", "censored", "allcens"}
        # S(1) = 0.5 EXACTLY — the quantized threshold must catch it
        # regardless of the exp(ln) ulp
        assert got["fast"]["median_duration"] == 1
        assert got["censored"]["median_duration"] is None
        assert got["censored"]["min_survival_u6"] == 900_000
        assert got["allcens"]["median_duration"] is None
        assert got["allcens"]["min_survival_u6"] == 1_000_000
        assert got["allcens"]["n_times"] == 0

    def test_weibull_grouped_matches_ungrouped(self, spark):
        from gofast_spark.stats.survival import (
            weibull_fit,
            weibull_fit_grouped,
        )

        df = self._surv_df(spark)
        got = {
            r["segment"]: r
            for r in weibull_fit_grouped(df, "dur", "ev", "seg").collect()
        }
        for seg in ("a", "b"):
            solo = weibull_fit(
                df.where(F.col("seg") == seg), "dur", "ev"
            ).collect()[0]
            assert got[seg]["shape"] == solo["shape"]
            assert got[seg]["scale"] == solo["scale"]
            assert got[seg]["n_points"] == solo["n_points"]

    def test_weibull_grouped_degenerate_segment_is_null(self, spark):
        from gofast_spark.stats.survival import weibull_fit_grouped

        # a segment with a single usable point: fit undefined -> NULLs
        rows = [("one", 5, 1)] * 3 + [("one", 9, 0)] * 3
        rows += [("ok", t, 1) for t in (1, 2, 3, 4, 5)] * 4
        df = spark.createDataFrame(rows, "seg string, dur bigint, ev int")
        got = {
            r["segment"]: r
            for r in weibull_fit_grouped(df, "dur", "ev", "seg").collect()
        }
        assert got["one"]["shape"] is None
        assert got["one"]["scale"] is None
        assert got["ok"]["shape"] is not None

    def test_aalen_johansen_decomposition(self, spark):
        """CIF_1 + CIF_2 + S(t) = 1 at every event time (the defining
        identity competing-risks estimators must satisfy; a per-cause
        KM complement would violate it)."""
        from gofast_spark.stats.survival import aalen_johansen

        rows = []
        for i in range(300):
            dur = (i * 11) % 17 + 1
            cause = 0 if i % 5 == 0 else (1 if i % 3 == 0 else 2)
            rows.append((dur, cause))
        df = spark.createDataFrame(rows, "dur bigint, cause int")
        out = aalen_johansen(df, "dur", "cause").orderBy("duration").collect()
        assert out, "no event times"
        # recompute S(t) stepwise from the returned table and check
        # the decomposition at the final event time
        s = 1.0
        for r in out:
            d = r["d1"] + r["d2"]
            assert r["surv_prev"] == pytest.approx(s, abs=1e-9)
            s *= 1.0 - d / r["n_risk"]
        last = out[-1]
        assert last["cif1"] + last["cif2"] + s == pytest.approx(1.0, abs=1e-9)

    def test_aalen_johansen_absorbing_tail(self, spark):
        """All remaining subjects failing at the last time is the
        absorbing state: survival hits exactly 0 and both CIFs stop
        at their final values (no NULL leakage from log(0))."""
        from gofast_spark.stats.survival import aalen_johansen

        df = spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1), (2, 1)], "dur bigint, cause int"
        )
        out = aalen_johansen(df, "dur", "cause").orderBy("duration").collect()
        last = out[-1]
        assert last["cif1"] + last["cif2"] == pytest.approx(1.0, abs=1e-12)


class TestGroupedDrift:
    def test_psi_by_group_matches_two_frame_psi(self, spark):
        """With exactly two groups, each group's leave-one-out PSI must
        equal psi_report(group, rest) up to the u6 summand
        quantization."""
        import math

        from gofast_spark.quality.drift import psi_by_group, psi_report

        rows = [("a", float(i % 40)) for i in range(400)] + [
            ("b", float((i * i) % 37)) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        got = {
            r["group"]: r
            for r in psi_by_group(
                df, "g", "x", lo=0.0, hi=40.0, bins=8
            ).collect()
        }
        for g, other in (("a", "b"), ("b", "a")):
            two = psi_report(
                df.where(F.col("g") == g),
                df.where(F.col("g") == other),
                "x",
                lo=0.0,
                hi=40.0,
                bins=8,
            ).collect()[0]
            assert got[g]["n_group"] == two["n_ref"]
            assert got[g]["n_rest"] == two["n_cur"]
            # u6 quantization happens per-summand in the grouped path
            # and not at all in psi_report — bound the gap by the max
            # quantization error (8 summands x 0.5 ulp of 1e-6)
            assert abs(got[g]["psi_u6"] / 1e6 - two["psi"]) < 8e-6
            assert not math.isnan(two["psi"])

    def test_psi_by_group_flags_the_shifted_source(self, spark):
        from gofast_spark.quality.drift import psi_by_group

        rows = (
            [("s1", float(i % 20)) for i in range(500)]
            + [("s2", float(i % 20)) for i in range(500)]
            + [("s3", 80.0 + float(i % 20)) for i in range(500)]
        )
        df = spark.createDataFrame(rows, "g string, x double")
        out = {
            r["group"]: r["psi_u6"]
            for r in psi_by_group(
                df, "g", "x", lo=0.0, hi=100.0, bins=10
            ).collect()
        }
        assert out["s3"] > out["s1"]
        assert out["s3"] > out["s2"]
        assert out["s3"] > 250_000  # PSI >> 0.25: "shifted" folklore bar

    def test_ks_by_group_single_group_is_zero_not_crash(self, spark):
        """With one group the rest-ECDF denominator is zero; the guard
        defines D = 0 instead of NaN-poisoning the ANSI bigint cast."""
        from gofast_spark.quality.drift import ks_by_group

        df = spark.createDataFrame(
            [("only", float(i % 7)) for i in range(50)], "g string, x double"
        )
        out = ks_by_group(df, "g", "x", lo=0.0, hi=10.0, bins=10).collect()
        assert len(out) == 1
        assert out[0]["ks_u6"] == 0
        assert out[0]["n_rest"] == 0

    def test_ks_by_group_identical_and_disjoint(self, spark):
        from gofast_spark.quality.drift import ks_by_group

        rows = (
            [("same1", float(i % 10)) for i in range(200)]
            + [("same2", float(i % 10)) for i in range(200)]
            + [("far", 50.0 + float(i % 10)) for i in range(200)]
        )
        df = spark.createDataFrame(rows, "g string, x double")
        out = {
            r["group"]: r["ks_u6"]
            for r in ks_by_group(df, "g", "x", lo=0.0, hi=100.0, bins=50
                                 ).collect()
        }
        # identical distributions vs (identical + far): small D;
        # the far group's ECDF is 0 where the rest's is 1 -> D = 1
        assert out["far"] == 1_000_000
        assert out["same1"] == out["same2"]
        assert out["same1"] <= 500_000  # rest includes 'far': D = 1/3 share
        # exact: rest of same1 = 200 same2 + 200 far; on the shared
        # support ECDF gap peaks at |1 - 0.5| = 0.5 at the last shared bin
        assert out["same1"] == 500_000


class TestEntropyReport:
    def test_independent_columns_mi_near_zero(self, spark):
        from gofast_spark.stats.infotheory import entropy_report

        # x and y cycle with coprime periods over a multiple of both:
        # exactly independent empirical distribution
        rows = [(i % 4, i % 5) for i in range(400)]
        df = spark.createDataFrame(rows, "x int, y int")
        r = entropy_report(df, "x", "y").collect()[0]
        assert r["n"] == 400
        # H(X)=ln4, H(Y)=ln5, H(XY)=ln20 up to quantization
        import math

        assert r["hx_u6"] == pytest.approx(math.log(4) * 1e6, abs=3)
        assert r["hy_u6"] == pytest.approx(math.log(5) * 1e6, abs=3)
        assert abs(r["mi_u6"]) <= 5  # quantization residue only
        assert abs(r["theil_u_xy"]) < 1e-5

    def test_deterministic_function_mi_equals_hx(self, spark):
        """y = f(x) makes H(X|Y)... inverted: x determined BY y gives
        MI = H(X) and U(X|Y) = 1."""
        from gofast_spark.stats.infotheory import entropy_report

        rows = [(i % 3, i % 6) for i in range(360)]  # x = y mod 3
        df = spark.createDataFrame(rows, "x int, y int")
        r = entropy_report(df, "x", "y").collect()[0]
        assert r["mi_u6"] == pytest.approx(r["hx_u6"], abs=5)
        assert r["theil_u_xy"] == pytest.approx(1.0, abs=1e-5)

    def test_constant_x_zero_entropy_guard(self, spark):
        from gofast_spark.stats.infotheory import entropy_report

        df = spark.createDataFrame(
            [(1, i % 3) for i in range(30)], "x int, y int"
        )
        r = entropy_report(df, "x", "y").collect()[0]
        assert r["hx_u6"] == 0
        assert r["theil_u_xy"] == 0.0  # guarded division


class TestSeasonalNaiveAccuracy:
    def test_hand_computed_series(self, spark):
        from gofast_spark.ts.engineering import seasonal_naive_accuracy

        # v_t = t for t in 1..10: naive error = 1 always (9 terms);
        # seasonal (season=3) error = 3 always (7 terms)
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 11)], "d int, v double"
        )
        r = seasonal_naive_accuracy(df, "d", "v", season=3).collect()[0]
        assert r["n_naive"] == 9
        assert r["n_seasonal"] == 7
        assert r["mae_naive"] == pytest.approx(1.0, abs=1e-9)
        assert r["mae_seasonal"] == pytest.approx(3.0, abs=1e-9)
        assert r["mase_seasonal"] == pytest.approx(3.0, abs=1e-9)

    def test_null_values_do_not_inflate_denominators(self, spark):
        from gofast_spark.ts.engineering import seasonal_naive_accuracy

        # v NULL at t=2: lag-1 exists there but the error term is NULL,
        # so the pair must not count toward n_naive
        rows = [(1, 1.0), (2, None), (3, 3.0), (4, 4.0), (5, 5.0)]
        df = spark.createDataFrame(rows, "d int, v double")
        r = seasonal_naive_accuracy(df, "d", "v", season=2).collect()[0]
        # naive pairs: (3,2)=NULL v_prev -> no, (2,1) v NULL -> no,
        # (4,3), (5,4) -> 2 pairs of error 1
        assert r["n_naive"] == 2
        assert r["mae_naive"] == pytest.approx(1.0, abs=1e-9)
        # seasonal (lag 2): (3,1)=2, (5,3)=2; (4,2) has NULL lag -> 2 pairs
        assert r["n_seasonal"] == 2
        assert r["mae_seasonal"] == pytest.approx(2.0, abs=1e-9)

    def test_rejects_bad_season(self, spark):
        from gofast_spark.ts.engineering import seasonal_naive_accuracy

        df = spark.createDataFrame([(1, 1.0)], "d int, v double")
        with pytest.raises(ValueError, match="season"):
            seasonal_naive_accuracy(df, "d", "v", season=1)


class TestDdmDrift:
    def test_stable_then_drift(self, spark):
        from gofast_spark.ts.changepoint import ddm_drift

        # 10 periods at 5% error rate, then 5 periods at 60%
        rows = [(t, 100, 5) for t in range(1, 11)] + [
            (t, 100, 60) for t in range(11, 16)
        ]
        df = spark.createDataFrame(rows, "t int, n bigint, e bigint")
        out = ddm_drift(df, "t", "n", "e").orderBy("order").collect()
        states = [r["state"] for r in out]
        assert all(s == "stable" for s in states[:10])
        assert states[-1] == "drift"
        # once p+s rises, the running min must stay at the low-error era
        assert out[-1]["ps_min_u9"] == out[9]["ps_min_u9"]

    def test_monotone_quantities(self, spark):
        from gofast_spark.ts.changepoint import ddm_drift

        rows = [(t, 50, t % 3) for t in range(1, 9)]
        df = spark.createDataFrame(rows, "t int, n bigint, e bigint")
        out = ddm_drift(df, "t", "n", "e").orderBy("order").collect()
        mins = [r["ps_min_u9"] for r in out]
        assert mins == sorted(mins, reverse=True)  # running min never rises
        assert [r["cum_n"] for r in out] == [50 * t for t in range(1, 9)]


class TestFisherLda:
    def test_separable_classes_direction(self, spark):
        from gofast_spark.ml.discriminant import fisher_lda_binary

        # class 0 around (1, 1), class 1 around (5, 5): w must point
        # toward increasing x1 + x2 and the midpoint must separate
        rows = []
        for i in range(200):
            j = i % 5 * 0.1
            k = i % 7 * 0.05
            rows.append((0, 1.0 + j, 1.0 - k))
            rows.append((1, 5.0 + j, 5.0 - k))
        df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
        r = fisher_lda_binary(df, ["x1", "x2"], "y").collect()[0]
        assert r["n0"] == 200 and r["n1"] == 200
        # score the class means: mu1 projects above threshold, mu0 below
        s0 = r["w1"] * 1.2 + r["w2"] * 0.8
        s1 = r["w1"] * 5.2 + r["w2"] * 4.8
        assert s0 < r["threshold"] < s1

    def test_two_features_required(self, spark):
        from gofast_spark.ml.discriminant import fisher_lda_binary

        df = spark.createDataFrame([(0, 1.0)], "y int, x1 double")
        with pytest.raises(ValueError, match="2 features"):
            fisher_lda_binary(df, ["x1"], "y")


class TestGiniGrouped:
    def test_matches_ungrouped_per_group(self, spark):
        from gofast_spark.stats.descriptive import (
            gini_coeff,
            gini_coeff_grouped,
        )

        rows = [("a", float(1 + i % 7)) for i in range(70)] + [
            ("b", float((i % 11) ** 2)) for i in range(66)
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        got = {
            r["group"]: r
            for r in gini_coeff_grouped(df, "x", "g").collect()
        }
        for g in ("a", "b"):
            solo = gini_coeff(
                df.where(F.col("g") == g), "x"
            ).collect()[0]
            assert got[g]["gini"] == pytest.approx(solo["gini"], abs=1e-12)
        assert got["a"]["n"] == 70 and got["b"]["n"] == 66
        # squared values are more unequal than a flat cycle
        assert got["b"]["gini"] > got["a"]["gini"]


class TestSuccessiveHalving:
    def _df(self, spark):
        rows = [
            (i, float(i % 17), float(i % 5),
             2.0 + 3.0 * (i % 17) + 0.4 * ((i * i) % 11))
            for i in range(400)
        ]
        return spark.createDataFrame(
            rows, "id bigint, x1 double, x2 double, y double"
        )

    def test_halving_schedule_and_invariants(self, spark):
        from gofast_spark.ml.selection import successive_halving_ridge

        grid = [0.0, 0.1, 1.0, 10.0, 100.0, 1000.0, 10000.0, 100000.0]
        out = successive_halving_ridge(
            self._df(spark), ["x1", "x2"], "y", id_col="id", grid=grid, k=4
        ).collect()
        by_rung = {}
        for r in out:
            by_rung.setdefault(r["rung"], []).append(r)
        # 8 -> 4 -> 2 evaluated per rung (3 rungs for an 8-grid)
        assert sorted(by_rung) == [0, 1, 2]
        assert [len(by_rung[r]) for r in (0, 1, 2)] == [8, 4, 2]
        # each rung's survivors are exactly the next rung's evaluands
        for r in (0, 1):
            kept = {x["grid_j"] for x in by_rung[r] if x["kept"]}
            nxt = {x["grid_j"] for x in by_rung[r + 1]}
            assert kept == nxt
        # final rung keeps exactly one winner with the best score
        final = by_rung[2]
        winners = [x for x in final if x["kept"]]
        assert len(winners) == 1
        assert winners[0]["score_u4"] == min(x["score_u4"] for x in final)

    def test_halving_requires_enough_folds(self, spark):
        from gofast_spark.ml.selection import successive_halving_ridge

        with pytest.raises(ValueError, match="log2"):
            successive_halving_ridge(
                self._df(spark), ["x1", "x2"], "y", id_col="id",
                grid=[float(i) for i in range(32)], k=4,
            )


class TestCusumGrouped:
    def test_matches_ungrouped_per_group(self, spark):
        from gofast_spark.ts.changepoint import cusum, cusum_grouped

        rows = []
        for t in range(1, 21):
            rows.append(("a", t, 10.0 + (3.0 if t > 12 else 0.0)))
            rows.append(("b", t, 5.0))
        df = spark.createDataFrame(rows, "g string, t int, v double")
        grouped = cusum_grouped(df, "t", "v", "g", k=0.5, h=4.0).collect()
        for g in ("a", "b"):
            solo = {
                r["t"]: r
                for r in cusum(
                    df.where(F.col("g") == g).select("t", "v"),
                    "t", "v", k=0.5, h=4.0,
                ).collect()
            }
            for r in [x for x in grouped if x["group"] == g]:
                assert r["cusum_pos"] == solo[r["t"]]["cusum_pos"]
                assert r["cusum_neg"] == solo[r["t"]]["cusum_neg"]
                assert r["alarm_pos"] == solo[r["t"]]["alarm_pos"]
        # the shifted group alarms, the flat one never does
        assert any(
            r["alarm_pos"] for r in grouped if r["group"] == "a"
        )
        assert not any(
            r["alarm_pos"] or r["alarm_neg"]
            for r in grouped
            if r["group"] == "b"
        )


class TestNonBindingCapPlanEquality:
    def test_non_binding_cap_plan_is_byte_identical(self, spark):
        """r10 verdict ask #5: when max_basket_size does NOT bind, the
        miner's plan must be byte-identical to the uncapped plan (no
        extra join, no recomputed supports).  Compared on the optimized
        logical plan."""
        from gofast_spark.ml.itemsets import _basket_pairs

        rows = [(b, f"i{i}") for b in range(30) for i in range(b % 4 + 2)]
        df = spark.createDataFrame(rows, "bk bigint, it string")
        kw = dict(min_support=2)
        pairs_uncapped, nb_uncapped = _basket_pairs(
            df, "bk", "it", max_basket_size=None, **kw
        )
        pairs_capped, nb_capped = _basket_pairs(
            df, "bk", "it", max_basket_size=10_000, **kw
        )

        def plan(d):
            import re

            # expression ids (#NN) are allocation-order artifacts;
            # structural equality is what the invariant claims
            return re.sub(
                r"#\d+", "#", d._jdf.queryExecution().optimizedPlan().toString()
            )

        assert plan(pairs_capped) == plan(pairs_uncapped)
        assert plan(nb_capped) == plan(nb_uncapped)
        # and the results agree, trivially
        a = sorted(map(tuple, pairs_uncapped.collect()))
        b = sorted(map(tuple, pairs_capped.collect()))
        assert a == b


class TestWelchAnova:
    def test_matches_hand_computed(self, spark):
        from gofast_spark.stats.inferential import welch_anova

        rows = (
            [("a", float(v)) for v in (1, 2, 3, 4, 5)] * 4
            + [("b", float(v)) for v in (11, 13, 15, 17, 19)] * 4
            + [("c", float(v)) for v in (2, 4, 6, 8, 10)] * 4
        )
        df = spark.createDataFrame(rows, "g string, x double")
        r = welch_anova(df, "x", "g").collect()[0]
        # pure-python Welch on the same data
        import statistics as st

        groups = {}
        for g, x in rows:
            groups.setdefault(g, []).append(x)
        w, mu = {}, {}
        for g, xs in groups.items():
            mu[g] = sum(xs) / len(xs)
            w[g] = len(xs) / st.variance(xs)
        W = sum(w.values())
        ystar = sum(w[g] * mu[g] for g in groups) / W
        k = len(groups)
        A = sum(w[g] * (mu[g] - ystar) ** 2 for g in groups) / (k - 1)
        hsum = sum(
            (1 - w[g] / W) ** 2 / (len(groups[g]) - 1) for g in groups
        )
        B = 1 + (2 * (k - 2) / (k * k - 1)) * hsum
        assert r["f_stat"] == pytest.approx(A / B, rel=1e-4)
        assert r["df1"] == 2
        assert r["df2"] == pytest.approx((k * k - 1) / (3 * hsum), rel=1e-4)
        assert r["n"] == 60 and r["k"] == 3


class TestAnovaTwoWay:
    def test_balanced_design_decomposition(self, spark):
        from gofast_spark.stats.inferential import anova_two_way

        # y = 2*a + 3*b + noise-free interaction 0: SS_AB ~ 0
        rows = []
        for a in range(3):
            for b in range(4):
                for rep in range(5):
                    rows.append((a, b, float(2 * a + 3 * b + rep)))
        df = spark.createDataFrame(rows, "a int, b int, y double")
        r = anova_two_way(df, "a", "b", "y").collect()[0]
        assert r["n"] == 60
        assert (r["df_a"], r["df_b"], r["df_ab"], r["df_err"]) == (2, 3, 6, 48)
        # additive model: interaction SS vanishes (cell mean =
        # a-effect + b-effect exactly)
        assert abs(r["ss_ab"]) < 1e-3
        # known SS_A for balanced design: sum_a n_a (2a - 2)^2 = 20*(4+0+4)
        assert r["ss_a"] == pytest.approx(160.0, abs=1e-3)
        # rep noise 0..4 has SS 10 per cell x 12 cells
        assert r["ss_err"] == pytest.approx(120.0, abs=1e-3)
        assert r["f_a"] > r["f_ab"]


class TestBreuschPagan:
    def test_heteroskedastic_flags_high_lm(self, spark):
        from gofast_spark.stats.inferential import breusch_pagan

        # variance grows with x1: LM should be clearly positive and
        # much larger than on the homoskedastic twin
        het, hom = [], []
        for i in range(800):
            x1 = float(i % 40)
            x2 = float((i * 7) % 11)
            noise = ((i * 13) % 9 - 4) / 4.0  # in [-1, 1]
            het.append((x1, x2, 1.0 + 2.0 * x1 + x2 + noise * (0.1 + x1)))
            hom.append((x1, x2, 1.0 + 2.0 * x1 + x2 + noise * 5.0))
        dh = spark.createDataFrame(het, "x1 double, x2 double, y double")
        dm = spark.createDataFrame(hom, "x1 double, x2 double, y double")
        rh = breusch_pagan(dh, ["x1", "x2"], "y").collect()[0]
        rm = breusch_pagan(dm, ["x1", "x2"], "y").collect()[0]
        assert rh["n"] == 800 and rh["dof"] == 2
        assert rh["lm_stat"] > 100.0  # chi2(2) critical ~ 6; blatant
        assert rh["lm_stat"] > 10 * max(rm["lm_stat"], 1.0)


class TestKsNormal:
    def test_normal_ish_beats_uniform(self, spark):
        from gofast_spark.stats.inferential import ks_normal_test

        # symmetric triangular-ish sample (closer to normal) vs a flat
        # uniform grid: the uniform's D against its fitted normal is
        # larger
        tri = [(float(a + b),) for a in range(20) for b in range(20)]
        uni = [(float(i % 40),) for i in range(400)]
        dt = spark.createDataFrame(tri, "v double")
        du = spark.createDataFrame(uni, "v double")
        rt = ks_normal_test(dt, "v").collect()[0]
        ru = ks_normal_test(du, "v").collect()[0]
        assert rt["d_u6"] == max(rt["d_plus_u6"], rt["d_minus_u6"])
        assert rt["n"] == 400 and ru["n"] == 400
        assert rt["d_u6"] < ru["d_u6"]
        # both sups are genuine probabilities in [0, 1]
        for r in (rt, ru):
            assert 0 <= r["d_u6"] <= 1_000_000


class TestPoissonDispersion:
    def test_poisson_like_vs_overdispersed(self, spark):
        from gofast_spark.stats.inferential import poisson_dispersion

        # constant counts (variance 0 -> index 0) vs bursty keys
        flat = [(k,) for k in range(50) for _ in range(4)]
        bursty = [(k,) for k in range(50) for _ in range(1 + (k % 5) * 4)]
        df_f = spark.createDataFrame(flat, "k bigint")
        df_b = spark.createDataFrame(bursty, "k bigint")
        rf = poisson_dispersion(df_f, "k").collect()[0]
        rb = poisson_dispersion(df_b, "k").collect()[0]
        assert rf["n_keys"] == 50 and rf["total"] == 200
        assert rf["mean"] == 4.0
        assert rf["dispersion_index"] == 0.0
        assert rb["dispersion_index"] > 1.0  # overdispersed
        assert rb["dof"] == 49


class TestTukeyHsd:
    def test_pairs_and_known_difference(self, spark):
        from gofast_spark.stats.inferential import tukey_hsd

        rows = (
            [("a", float(v)) for v in (1, 2, 3, 4, 5)] * 6
            + [("b", float(v)) for v in (11, 12, 13, 14, 15)] * 6
            + [("c", float(v)) for v in (1, 2, 3, 4, 5)] * 6
        )
        df = spark.createDataFrame(rows, "g string, x double")
        out = {
            (r["g_a"], r["g_b"]): r
            for r in tukey_hsd(df, "x", "g").collect()
        }
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
        # identical groups: zero mean difference and q
        assert out[("a", "c")]["mean_diff"] == pytest.approx(0.0, abs=1e-9)
        assert out[("a", "c")]["q_stat"] == pytest.approx(0.0, abs=1e-6)
        # b sits exactly 10 above both
        assert out[("a", "b")]["mean_diff"] == pytest.approx(-10.0, abs=1e-6)
        assert abs(out[("a", "b")]["q_stat"]) > 10
        # MSE = within variance = var of 1..5 -> se identical across pairs
        assert out[("a", "b")]["se"] == pytest.approx(
            out[("b", "c")]["se"], abs=1e-12
        )


class TestCvmNormal:
    def test_uniform_worse_than_bell(self, spark):
        from gofast_spark.stats.inferential import cvm_normal_test

        bell = [(float(a + b + c),) for a in range(8) for b in range(8)
                for c in range(8)]
        uni = [(float(i % 32),) for i in range(512)]
        rb = cvm_normal_test(spark.createDataFrame(bell, "v double"), "v")
        ru = cvm_normal_test(spark.createDataFrame(uni, "v double"), "v")
        rb, ru = rb.collect()[0], ru.collect()[0]
        assert rb["n"] == 512 and ru["n"] == 512
        assert rb["w2_u9"] < ru["w2_u9"]
        assert rb["w2_u9"] > 0


class TestNgramContainment:
    def test_subset_document_found_where_jaccard_misses(self, spark):
        from gofast_spark.dedup.ngram import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        short = "alpha beta gamma delta epsilon zeta"
        filler = " ".join(f"tok{i} mid{i} end{i}" for i in range(30))
        rows = [
            (1, short),
            (2, short + " " + filler),  # short embedded in long
            (3, "completely different words entirely here now"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        cont = ngram_containment_pairs(
            df, "doc_id", "text", k=3, threshold=0.9
        ).collect()
        jac = ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.9
        ).collect()
        got = {(r["id_a"], r["id_b"]): r["containment"] for r in cont}
        assert (1, 2) in got  # every shingle of doc 1 appears in doc 2
        assert got[(1, 2)] == pytest.approx(1.0, abs=1e-9)
        assert not any(
            (r["id_a"], r["id_b"]) == (1, 2) for r in jac
        )  # jaccard diluted by the big union

    def test_containment_bounds(self, spark):
        from gofast_spark.dedup.ngram import ngram_containment_pairs

        rows = [
            (1, "one two three four five six"),
            (2, "one two three four five six"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = ngram_containment_pairs(
            df, "doc_id", "text", k=3, threshold=0.5
        ).collect()
        assert len(out) == 1
        assert out[0]["containment"] == 1.0
        assert out[0]["n_a"] == out[0]["n_b"]


class TestQualityReportEscaping:
    def test_backtick_and_quote_identifiers(self, spark):
        from gofast_spark.quality.observe import quality_report_relational

        df = spark.createDataFrame(
            [(1.0, 2.0), (None, 4.0)],
            ["odd`name", "it's"],
        )
        out = quality_report_relational(df, ["odd`name", "it's"]).collect()
        got = {r["column"]: (r["n_rows"], r["n_nulls"]) for r in out}
        assert got == {"odd`name": (2, 1), "it's": (2, 0)}
