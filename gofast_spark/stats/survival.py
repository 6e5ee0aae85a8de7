"""Survival analysis (SURVEY §2.10).

Reference: ``kaplan_meier_analysis``
(gofast/stats/survival_reliability.py:24) — lifelines fit on a driver
array.  Here the product-limit estimator is the SQL identity
``S(t) = exp(sum over s<=t of ln(1 - d_s/n_s))`` over the sorted distinct
event times: one groupBy(duration) + two cumulative windows over the
(small) distinct-time table — the raw data is touched once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    keep_censor_times: bool = False,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen,
    Ann. Statist. 1978): ``H(t) = sum over s<=t of d_s / n_s`` with the
    Aalen variance ``sum d_s / n_s^2``.

    Output per distinct duration: (duration, n_risk, n_events,
    cum_hazard, var_hazard).  Same plan shape as :func:`kaplan_meier`
    (the reference fits lifelines on a driver array,
    gofast/stats/survival_reliability.py:24): one groupBy(duration) +
    cumulative windows over the distinct-time table, raw data touched
    once; ``bins`` bounds the distinct-time table at scale.  The
    cumulative sum runs over the ordered window, so the double is a
    deterministic function of the integer (d, n) table."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    d, e = F.col(duration_col), F.col(event_col)
    per_t = df.groupBy(d.alias("duration")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(e.cast("long")).alias("n_events"),
    )
    w_prev = (
        Window.orderBy(F.col("duration"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy(F.col("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    curve = per_t.select(
        "duration",
        "n_events",
        (
            F.sum("n_total").over(tot)
            - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    dd = F.col("n_events").cast("double")
    nn = F.col("n_risk").cast("double")
    out = curve.withColumn(
        "cum_hazard", F.sum(dd / nn).over(w_cum)
    ).withColumn("var_hazard", F.sum(dd / (nn * nn)).over(w_cum))
    if not keep_censor_times:
        out = out.where(F.col("n_events") > 0)
    return out.select(
        "duration", "n_risk", "n_events", "cum_hazard", "var_hazard"
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    keep_censor_times: bool = False,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Kaplan-Meier survival curve.

    Output per distinct duration: (duration, n_risk, n_events, survival).
    ``event_col`` is 1 for an observed event, 0 for censoring.  By default
    only event times appear (the standard KM table); censor-only times are
    kept with ``keep_censor_times``.  ``bins`` bounds the distinct-time
    table for continuous durations via a quantile sketch (stats.prebin;
    exact when distinct <= bins — the binned curve reports bucket
    ordinals as durations)."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    d, e = F.col(duration_col), F.col(event_col)
    per_t = df.groupBy(d.alias("duration")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(e.cast("long")).alias("n_events"),
    )
    w_prev = (
        Window.orderBy(F.col("duration"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy(F.col("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    curve = per_t.select(
        "duration",
        "n_events",
        (
            F.sum("n_total").over(tot)
            - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    # d == n at some time means all remaining subjects fail there: the KM
    # factor is exactly 0 and survival must stay 0 from that time onward.
    # The log-sum identity silently loses this (F.log(0) -> NULL in Spark,
    # and sum() skips NULLs), so track the absorbing state with a
    # cumulative flag and special-case it.
    absorbed = (
        F.max((F.col("n_events") == F.col("n_risk")).cast("int")).over(w_cum) == 1
    )
    surv = F.when(absorbed, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.log(1.0 - F.col("n_events") / F.col("n_risk"))
            ).over(w_cum)
        )
    )
    out = curve.withColumn("survival", surv)
    if not keep_censor_times:
        out = out.where(F.col("n_events") > 0)
    return out.select("duration", "n_risk", "n_events", "survival")


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
    weight: str = "logrank",
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; Peto & Peto, JRSS-A
    1972): at each distinct event time the observed-minus-expected
    group-A deaths under the null, with the hypergeometric variance

        E_a(t) = d_t * n_a(t) / n_t
        V(t)   = d_t * (n_a/n_t) * (n_b/n_t) * (n_t - d_t) / (n_t - 1)

    and ``chi2 = (sum(w_t (O_a - E_a)))^2 / sum(w_t^2 V)`` with 1 dof.
    ``weight`` selects the weighted-logrank family member (Fleming &
    Harrington 1991, ch. 7): ``'logrank'`` w_t = 1 (the default, plan
    -identical to the original), ``'gehan'`` w_t = n_t (Gehan 1965 /
    Breslow 1970 — early differences count more), ``'tarone_ware'``
    w_t = sqrt(n_t) (Tarone & Ware 1977).  Same
    one-scan shape as :func:`kaplan_meier`: one groupBy(duration) with
    per-group conditional sums, cumulative-window risk sets over the
    distinct-time table, one final 1-row aggregate.  Returns
    ``(chi2, o_minus_e, var, n_a, n_b)``."""
    from gofast_spark.stats.prebin import prebin_column

    df = df.where(F.col(group_col).isin([group_a, group_b]))
    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    is_a = (F.col(group_col) == group_a).cast("long")
    is_b = (F.col(group_col) == group_b).cast("long")
    ev = F.col(event_col).cast("long")
    per_t = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(is_a).alias("m_a"),
        F.sum(is_b).alias("m_b"),
        F.sum(ev * is_a).alias("d_a"),
        F.sum(ev * is_b).alias("d_b"),
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy()
    risk = per_t.select(
        "duration",
        "d_a",
        "d_b",
        (
            F.sum("m_a").over(tot)
            - F.coalesce(F.sum("m_a").over(w_prev), F.lit(0))
        ).alias("n_a"),
        (
            F.sum("m_b").over(tot)
            - F.coalesce(F.sum("m_b").over(w_prev), F.lit(0))
        ).alias("n_b"),
    )
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    e_a = d * na / n
    v = F.when(
        n > 1.0, d * (na / n) * (nb / n) * (n - d) / (n - F.lit(1.0))
    ).otherwise(F.lit(0.0))
    if weight == "logrank":
        ome_w, v_w = F.col("d_a").cast("double") - e_a, v
    elif weight == "gehan":
        ome_w = n * (F.col("d_a").cast("double") - e_a)
        v_w = n * n * v
    elif weight == "tarone_ware":
        ome_w = F.sqrt(n) * (F.col("d_a").cast("double") - e_a)
        v_w = n * v
    else:
        raise ValueError(f"unknown logrank weight {weight!r}")
    per_time = risk.where(d > 0).select(
        "duration",
        ome_w.alias("ome"),
        v_w.alias("v"),
        "n_a",
        "n_b",
    )
    # Deterministic double accumulation: cumulative sums over the
    # duration-ordered window (fixed order in every engine), then ONE
    # argmax row-pick — never a partition-order-dependent float sum.
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_time.select(
        "duration",
        F.sum("ome").over(w_cum).alias("o_minus_e"),
        F.sum("v").over(w_cum).alias("var"),
        F.max("n_a").over(w_cum).alias("n_a"),
        F.max("n_b").over(w_cum).alias("n_b"),
    )
    last = F.max_by(
        F.struct("o_minus_e", "var", "n_a", "n_b"), F.col("duration")
    ).alias("s")
    agg = cum.agg(last).select("s.*")
    chi2 = (
        F.col("o_minus_e") * F.col("o_minus_e") / F.col("var")
    ).alias("chi2")
    return agg.select(chi2, "o_minus_e", "var", "n_a", "n_b")


def weibull_fit(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    bins: "int | str | None" = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Weibull survival-model fit by linearizing the Kaplan-Meier
    curve (the classic probability-plot / median-rank regression:
    ``S(t) = exp(-(t/lambda)^k)`` implies ``ln(-ln S) = k ln t -
    k ln lambda``; e.g. Nelson, *Applied Life Data Analysis*, 1982):
    OLS of ``ln(-ln S)`` on ``ln t`` over the distinct-duration KM
    frame gives shape ``k`` = slope and scale ``lambda`` =
    ``exp(-intercept/k)``.

    Riding on :func:`kaplan_meier`, the fit adds one duration-sized
    projection + ONE aggregate whose term sums are quantized to exact
    integer micro-units (the repo's deterministic-sum discipline) —
    the estimates are bit-identical across engines.  Points with
    S in {0, 1} or t <= 0 are outside the linearization domain and
    excluded.  Returns ONE row ``(shape, scale, n_points)``.
    """
    km = kaplan_meier(
        df,
        duration_col,
        event_col,
        bins=bins,
        relative_error=relative_error,
    )
    pts = km.where(
        (F.col("survival") > 0.0)
        & (F.col("survival") < 1.0)
        & (F.col("duration") > 0)
    ).select(
        F.log(F.col("duration").cast("double")).alias("x"),
        F.log(-F.log(F.col("survival"))).alias("y"),
    )
    u6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("bigint")  # noqa: E731
    fit = pts.agg(
        F.count(F.lit(1)).alias("m"),
        (F.sum(u6(F.col("x"))) / F.lit(1e6)).alias("sx"),
        (F.sum(u6(F.col("y"))) / F.lit(1e6)).alias("sy"),
        (F.sum(u6(F.col("x") * F.col("x"))) / F.lit(1e6)).alias("sxx"),
        (F.sum(u6(F.col("x") * F.col("y"))) / F.lit(1e6)).alias("sxy"),
    )
    k = (
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return fit.select(
        k.alias("shape"),
        F.exp(-((F.col("sy") - k * F.col("sx")) / F.col("m")) / k).alias(
            "scale"
        ),
        F.col("m").alias("n_points"),
    )


def cox_ph_binary(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    *,
    iterations: int = 4,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Cox proportional-hazards fit for a single BINARY covariate
    (Cox, JRSS-B 1972) with Breslow tie handling (Breslow, Biometrics
    1974) — the missing sibling of :func:`logrank_test` (whose score
    test it contains at beta=0):

        U(b) = sum_j [ d1_j - d_j * n1_j e^b / (n0_j + n1_j e^b) ]
        I(b) = sum_j   d_j * n1_j e^b * n0_j / (n0_j + n1_j e^b)^2

    Newton iterations ``b <- b + U/I`` from b=0, UNROLLED in one lazy
    plan: the risk-set table (one groupBy + total-minus-prefix
    windows, rollup-sized — the kaplan_meier shape) is re-aggregated
    per iteration with the previous 1-row beta broadcast (the
    gradient-descent entry discipline).  Every per-time summand is
    quantized to nano-units so U and I are exact integer sums —
    engine-reproducible, SQL-replayable.  ``group_col`` must be 0/1.
    Returns ``(beta, hazard_ratio, se, u_final, n_0, n_1,
    n_events)``."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    g = F.col(group_col).cast("long")
    ev = F.col(event_col).cast("long")
    # pin the bins-sized rollup: every Newton iteration's broadcast
    # state replays its lineage (the corpus groupBy) when materialized,
    # so 4 iterations + the SE readout + sizes cost ~6 corpus scans
    # without this (guide §1.2)
    per_t, _ = pin(
        df.groupBy(F.col(duration_col).alias("duration")).agg(
            F.sum(F.lit(1) - g).alias("m0"),
            F.sum(g).alias("m1"),
            F.sum(ev * (F.lit(1) - g)).alias("d0"),
            F.sum(ev * g).alias("d1"),
        ),
        "cox:rollup",
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy()
    risk = per_t.select(
        "duration", "d0", "d1",
        (F.sum("m0").over(tot)
         - F.coalesce(F.sum("m0").over(w_prev), F.lit(0))).alias("n0"),
        (F.sum("m1").over(tot)
         - F.coalesce(F.sum("m1").over(w_prev), F.lit(0))).alias("n1"),
    ).where((F.col("d0") + F.col("d1")) > 0)

    def q9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("bigint")

    def newton_terms(beta_col):
        n0 = F.col("n0").cast("double")
        n1 = F.col("n1").cast("double")
        d = (F.col("d0") + F.col("d1")).cast("double")
        w1 = n1 * F.exp(beta_col)
        p = w1 / (n0 + w1)
        u = F.col("d1").cast("double") - d * p
        i = d * p * (n0 / (n0 + w1))
        return q9(u), q9(i)

    beta = F.lit(0.0)
    state = None
    for _ in range(iterations):
        u_t, i_t = newton_terms(beta)
        j = risk if state is None else risk.crossJoin(F.broadcast(state))
        agg = j.agg(
            F.sum(u_t).alias("__u"), F.sum(i_t).alias("__i"),
            *([] if state is None else [F.first("__beta").alias("__b0")]),
        )
        nb = (
            (F.lit(0.0) if state is None else F.col("__b0"))
            + F.col("__u").cast("double") / F.col("__i").cast("double")
        )
        state = agg.select(nb.alias("__beta"))
        beta = F.col("__beta")
    # final U/I at the converged beta for the SE readout
    u_t, i_t = newton_terms(F.col("__beta"))
    fin = risk.crossJoin(F.broadcast(state)).agg(
        F.first("__beta").alias("beta"),
        F.sum(u_t).alias("__uf"),
        F.sum(i_t).alias("__if"),
        F.max(F.col("n0") + F.col("n1")).alias("__nrisk"),
    )
    sizes = per_t.agg(
        F.sum("m0").alias("n_0"), F.sum("m1").alias("n_1"),
        F.sum(F.col("d0") + F.col("d1")).alias("n_events"),
    )
    return fin.crossJoin(F.broadcast(sizes)).select(
        "beta",
        F.exp(F.col("beta")).alias("hazard_ratio"),
        (F.lit(1.0) / F.sqrt(F.col("__if").cast("double") / F.lit(1e9)))
        .alias("se"),
        (F.col("__uf").cast("double") / F.lit(1e9)).alias("u_final"),
        F.col("n_0").cast("bigint").alias("n_0"),
        F.col("n_1").cast("bigint").alias("n_1"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


def cox_ph_binary_grouped(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    segment_col: str,
    *,
    iterations: int = 4,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Per-segment Cox proportional-hazards fits (Cox, JRSS-B 1972;
    Breslow 1974) — :func:`cox_ph_binary` generalized to run one
    INDEPENDENT fit per ``segment_col`` value in a single lazy plan
    (the reference fits lifelines per stratum driver-side,
    gofast/stats/survival_reliability.py:24-112; here every stratum's
    Newton chain shares the same scan).

    The risk-set windows partition by segment, and the per-iteration
    Newton state is a SEGMENT-KEYED frame (segments x 1 row) joined
    back broadcast — so the plan scales with segment count only in the
    tiny state join, never in extra scans of the raw data.  Summand
    quantization (nano-units) matches the ungrouped fit, so each
    segment's estimates are bit-identical to running
    :func:`cox_ph_binary` on that segment alone.  Returns one row per
    segment: ``(segment, beta, hazard_ratio, se, n_0, n_1,
    n_events)``."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    g = F.col(group_col).cast("long")
    ev = F.col(event_col).cast("long")
    # pinned as in cox_ph_binary: the (segments x bins) rollup feeds
    # every per-iteration state materialization
    per_t, _ = pin(
        df.groupBy(
            F.col(segment_col).alias("seg"),
            F.col(duration_col).alias("duration"),
        ).agg(
            F.sum(F.lit(1) - g).alias("m0"),
            F.sum(g).alias("m1"),
            F.sum(ev * (F.lit(1) - g)).alias("d0"),
            F.sum(ev * g).alias("d1"),
        ),
        "cox_grouped:rollup",
    )
    w_prev = Window.partitionBy("seg").orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy("seg")
    risk = per_t.select(
        "seg", "duration", "d0", "d1",
        (F.sum("m0").over(tot)
         - F.coalesce(F.sum("m0").over(w_prev), F.lit(0))).alias("n0"),
        (F.sum("m1").over(tot)
         - F.coalesce(F.sum("m1").over(w_prev), F.lit(0))).alias("n1"),
    ).where((F.col("d0") + F.col("d1")) > 0)

    def q9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("bigint")

    def newton_terms(beta_col):
        n0 = F.col("n0").cast("double")
        n1 = F.col("n1").cast("double")
        d = (F.col("d0") + F.col("d1")).cast("double")
        w1 = n1 * F.exp(beta_col)
        p = w1 / (n0 + w1)
        u = F.col("d1").cast("double") - d * p
        i = d * p * (n0 / (n0 + w1))
        return q9(u), q9(i)

    state = risk.select("seg").distinct().withColumn("__beta", F.lit(0.0))
    for _ in range(iterations):
        u_t, i_t = newton_terms(F.col("__beta"))
        agg = (
            risk.join(F.broadcast(state), "seg")
            .groupBy("seg")
            .agg(
                F.sum(u_t).alias("__u"),
                F.sum(i_t).alias("__i"),
                F.first("__beta").alias("__b0"),
            )
        )
        state = agg.select(
            "seg",
            (
                F.col("__b0")
                # degenerate stratum (one treatment arm): information
                # is 0 — hold beta instead of NaN-poisoning the chain
                + F.when(
                    F.col("__i") != 0,
                    F.col("__u").cast("double")
                    / F.col("__i").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("__beta"),
        )
    u_t, i_t = newton_terms(F.col("__beta"))
    fin = (
        risk.join(F.broadcast(state), "seg")
        .groupBy("seg")
        .agg(
            F.first("__beta").alias("beta"),
            F.sum(i_t).alias("__if"),
        )
    )
    sizes = per_t.groupBy("seg").agg(
        F.sum("m0").alias("n_0"), F.sum("m1").alias("n_1"),
        F.sum(F.col("d0") + F.col("d1")).alias("n_events"),
    )
    return (
        fin.join(F.broadcast(sizes), "seg")
        .select(
            F.col("seg").alias("segment"),
            "beta",
            F.exp(F.col("beta")).alias("hazard_ratio"),
            F.when(
                F.col("__if") > 0,
                F.lit(1.0)
                / F.sqrt(F.col("__if").cast("double") / F.lit(1e9)),
            ).alias("se"),
            F.col("n_0").cast("bigint").alias("n_0"),
            F.col("n_1").cast("bigint").alias("n_1"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("segment")
    )


def _km_grouped_curve(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    segment_col: str,
) -> DataFrame:
    """Shared per-segment KM curve: ``(seg, duration, n_events,
    n_risk, survival)`` at ALL distinct times (censor-only rows have
    ``n_events = 0`` and leave the product-limit untouched — callers
    filter to event times but keep the full frame as the SEGMENT
    UNIVERSE, so a stratum with rows but no observed events still
    appears in per-segment reports).  The absorbing d == n state is
    guarded (survival exactly 0 from there on; F.log(0) is NULL in
    Spark and sum() would silently skip it)."""
    d, e = F.col(duration_col), F.col(event_col)
    per_t = df.groupBy(
        F.col(segment_col).alias("seg"), d.alias("duration")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(e.cast("long")).alias("n_events"),
    )
    w_prev = Window.partitionBy("seg").orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.partitionBy("seg").orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("seg")
    curve = per_t.select(
        "seg", "duration", "n_events",
        (F.sum("n_total").over(tot)
         - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0))).alias("n_risk"),
    )
    absorbed = (
        F.max((F.col("n_events") == F.col("n_risk")).cast("int")).over(w_cum)
        == 1
    )
    surv = F.when(absorbed, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.log(1.0 - F.col("n_events") / F.col("n_risk"))
            ).over(w_cum)
        )
    )
    return curve.withColumn("survival", surv)


def km_median_grouped(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    segment_col: str,
) -> DataFrame:
    """Per-segment Kaplan-Meier MEDIAN survival time — the first event
    time where the survival curve reaches 0.5 or below (the standard
    reported survival summary; ref kaplan_meier_analysis,
    gofast/stats/survival_reliability.py:24 reads it off a lifelines
    fit driver-side).  One scan via the shared grouped KM curve; a
    segment whose curve never reaches 0.5 reports NULL (median not
    attained — the honest answer under heavy censoring).

    The 0.5 threshold compares the MICRO-UNIT-QUANTIZED survival
    (``floor(S * 1e6 + 0.5) <= 500000``), never the raw
    ``exp(sum(ln))`` double: a curve passing exactly through 1/2
    (d = n/2 at one time) lands within 1 ulp of 0.5 where JVM Math
    and libm disagree — quantizing first makes the comparison an
    integer one on both engines (the repo's transcendental
    -comparison discipline).  A stratum with rows but NO observed
    events still gets a row (NULL median, min_survival_u6 = 1e6,
    n_times = 0) — per-segment reports must never silently drop a
    segment.  Returns ``(segment, median_duration, min_survival_u6,
    n_times)`` ordered by segment."""
    curve = _km_grouped_curve(df, duration_col, event_col, segment_col)
    segs = curve.select(F.col("seg").alias("segment")).distinct()
    km = curve.where(F.col("n_events") > 0)
    s_u6 = F.floor(F.col("survival") * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    agg = km.groupBy(F.col("seg").alias("segment")).agg(
        F.min(
            F.when(s_u6 <= F.lit(500_000), F.col("duration"))
        ).alias("median_duration"),
        F.min(s_u6).alias("min_survival_u6"),
        F.count(F.lit(1)).alias("n_times"),
    )
    return (
        segs.join(agg, "segment", "left")
        .select(
            "segment",
            "median_duration",
            F.coalesce(
                F.col("min_survival_u6"), F.lit(1_000_000)
            ).alias("min_survival_u6"),
            F.coalesce(F.col("n_times"), F.lit(0))
            .cast("bigint")
            .alias("n_times"),
        )
        .orderBy("segment")
    )


def weibull_fit_grouped(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    segment_col: str,
) -> DataFrame:
    """Per-segment Weibull probability-plot fits (Nelson 1982) —
    :func:`weibull_fit`'s linearized-KM OLS with the regression
    moments grouped by segment: one scan fits every stratum's
    ``(shape, scale)``.  Segments with fewer than 2 usable points or a
    degenerate x-variance report NULL estimates (fit undefined), and a
    segment with NO usable points still gets its (NULL, NULL, 0) row.
    Micro-unit-quantized term sums keep the estimates bit-identical
    across engines.  Returns ``(segment, shape, scale, n_points)``
    ordered by segment."""
    curve = _km_grouped_curve(df, duration_col, event_col, segment_col)
    segs = curve.select(F.col("seg").alias("segment")).distinct()
    pts = curve.where(
        (F.col("n_events") > 0)
        & (F.col("survival") > 0.0)
        & (F.col("survival") < 1.0)
        & (F.col("duration") > 0)
    ).select(
        "seg",
        F.log(F.col("duration").cast("double")).alias("x"),
        F.log(-F.log(F.col("survival"))).alias("y"),
    )
    u6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("bigint")  # noqa: E731
    fit = pts.groupBy(F.col("seg").alias("segment")).agg(
        F.count(F.lit(1)).alias("m"),
        (F.sum(u6(F.col("x"))) / F.lit(1e6)).alias("sx"),
        (F.sum(u6(F.col("y"))) / F.lit(1e6)).alias("sy"),
        (F.sum(u6(F.col("x") * F.col("x"))) / F.lit(1e6)).alias("sxx"),
        (F.sum(u6(F.col("x") * F.col("y"))) / F.lit(1e6)).alias("sxy"),
    )
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    k = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    ok = (F.col("m") >= 2) & (den != 0.0)
    fitted = fit.select(
        "segment",
        F.when(ok, k).alias("shape"),
        F.when(
            ok, F.exp(-((F.col("sy") - k * F.col("sx")) / F.col("m")) / k)
        ).alias("scale"),
        F.col("m").cast("bigint").alias("n_points"),
    )
    return (
        segs.join(fitted, "segment", "left")
        .select(
            "segment",
            "shape",
            "scale",
            F.coalesce(F.col("n_points"), F.lit(0))
            .cast("bigint")
            .alias("n_points"),
        )
        .orderBy("segment")
    )


def restricted_mean_survival_grouped(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    segment_col: str,
    *,
    tau: float,
) -> DataFrame:
    """Per-segment restricted mean survival time (Royston & Parmar
    2013) — :func:`restricted_mean_survival` with every window
    partitioned by segment, so one scan yields each stratum's KM area
    on [0, tau].  A stratum with no event time inside [0, tau]
    (all-censored, or first failure past the horizon) has survival 1
    on the whole window and reports ``rmst = tau`` rather than
    silently vanishing.  Returns ``(segment, rmst, tau, n_times)``
    ordered by segment."""
    curve = _km_grouped_curve(df, duration_col, event_col, segment_col)
    segs = curve.select(F.col("seg").alias("segment")).distinct()
    km = curve.where(
        (F.col("n_events") > 0)
        & (F.col("duration").cast("double") <= F.lit(tau))
    )
    w = Window.partitionBy("seg").orderBy("duration")
    seg = km.select(
        "seg",
        F.col("duration").cast("double").alias("t"),
        "survival",
        F.coalesce(F.lag(F.col("duration").cast("double")).over(w),
                   F.lit(0.0)).alias("pt"),
        F.coalesce(F.lag("survival").over(w), F.lit(1.0)).alias("ps"),
    )
    agg = seg.groupBy("seg").agg(
        F.sum(
            F.floor((F.col("t") - F.col("pt")) * F.col("ps")
                    * F.lit(1e9) + F.lit(0.5)).cast("bigint")
        ).alias("__area_u"),
        F.max_by(F.struct("t", "survival"), "t").alias("__last"),
        F.count(F.lit(1)).alias("n_times"),
    )
    rmst = (
        F.col("__area_u").cast("double") / F.lit(1e9)
        + (F.lit(tau) - F.col("__last.t")) * F.col("__last.survival")
    )
    computed = agg.select(
        F.col("seg").alias("segment"),
        rmst.alias("rmst"),
        F.col("n_times").cast("bigint").alias("n_times"),
    )
    return (
        segs.join(computed, "segment", "left")
        .select(
            "segment",
            # no event inside [0, tau]: S = 1 on the window -> rmst = tau
            F.coalesce(F.col("rmst"), F.lit(tau)).alias("rmst"),
            F.lit(tau).alias("tau"),
            F.coalesce(F.col("n_times"), F.lit(0))
            .cast("bigint")
            .alias("n_times"),
        )
        .orderBy("segment")
    )


def aalen_johansen(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Aalen-Johansen cumulative-incidence estimator for two competing
    risks (Aalen & Johansen, Scand. J. Statist. 1978): with cause k in
    {1, 2} and 0 = censored,

        CIF_k(t) = sum over event times s <= t of S(s-) * d_ks / n_s

    where ``S(s-)`` is the all-cause Kaplan-Meier survival just before
    ``s``.  Naive per-cause KM ("1 - KM treating other causes as
    censoring") over-estimates incidence when risks compete — the AJ
    estimator is the correct decomposition (CIF_1 + CIF_2 + S = 1 at
    every event time).

    Same one-scan shape as :func:`kaplan_meier`: one
    groupBy(duration) with per-cause death counts, total-minus-prefix
    risk sets, an ordered PRECEDING-window product-limit for S(s-),
    and cumulative sums for the two CIFs.  Returns per event time:
    ``(duration, n_risk, d1, d2, surv_prev, cif1, cif2)``."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(
        df, duration_col, bins=bins, relative_error=relative_error
    )
    c = F.col(cause_col)
    per_t = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((c == 1).cast("long")).alias("d1"),
        F.sum((c == 2).cast("long")).alias("d2"),
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy()
    curve = per_t.select(
        "duration", "d1", "d2",
        (F.sum("n_total").over(tot)
         - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0))).alias("n_risk"),
    )
    d_all = (F.col("d1") + F.col("d2")).cast("double")
    n = F.col("n_risk").cast("double")
    # S(s-) = product-limit over STRICTLY PRECEDING rows; d == n in a
    # preceding row is the absorbing state (everyone failed)
    absorbed_prev = (
        F.coalesce(
            F.max(
                ((F.col("d1") + F.col("d2")) == F.col("n_risk")).cast("int")
            ).over(w_prev),
            F.lit(0),
        )
        == 1
    )
    s_prev = F.when(absorbed_prev, F.lit(0.0)).otherwise(
        F.exp(
            F.coalesce(F.sum(F.log(1.0 - d_all / n)).over(w_prev), F.lit(0.0))
        )
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stepped = curve.withColumn("surv_prev", s_prev).select(
        "duration", "n_risk", "d1", "d2", "surv_prev",
        F.sum(
            F.col("surv_prev") * F.col("d1").cast("double") / n
        ).over(w_cum).alias("cif1"),
        F.sum(
            F.col("surv_prev") * F.col("d2").cast("double") / n
        ).over(w_cum).alias("cif2"),
    )
    return stepped.where((F.col("d1") + F.col("d2")) > 0).select(
        "duration", "n_risk", "d1", "d2", "surv_prev", "cif1", "cif2"
    )


def restricted_mean_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    tau: float,
) -> DataFrame:
    """Restricted mean survival time up to horizon ``tau`` (Royston &
    Parmar, BMC Med. Res. Methodol. 2013; the recommended summary when
    proportional hazards fails): the area under the Kaplan-Meier step
    function on [0, tau],

        RMST = sum_i S(t_{i-1}) * (t_i - t_{i-1}) + S(t_m) * (tau - t_m)

    One lag window over the (rollup-sized) KM curve, nano-unit-exact
    segment sums, the tail segment from one ``max_by`` argmax.
    Returns ``(rmst, tau, n_times)``."""
    km = kaplan_meier(df, duration_col, event_col).where(
        F.col("duration").cast("double") <= F.lit(tau)
    )
    w = Window.orderBy("duration")
    seg = km.select(
        F.col("duration").cast("double").alias("t"),
        "survival",
        F.coalesce(F.lag(F.col("duration").cast("double")).over(w),
                   F.lit(0.0)).alias("pt"),
        F.coalesce(F.lag("survival").over(w), F.lit(1.0)).alias("ps"),
    )
    agg = seg.agg(
        F.sum(
            F.floor((F.col("t") - F.col("pt")) * F.col("ps")
                    * F.lit(1e9) + F.lit(0.5)).cast("bigint")
        ).alias("__area_u"),
        F.max_by(F.struct("t", "survival"), "t").alias("__last"),
        F.count(F.lit(1)).alias("n_times"),
    )
    rmst = (
        F.col("__area_u").cast("double") / F.lit(1e9)
        + (F.lit(tau) - F.col("__last.t")) * F.col("__last.survival")
    )
    return agg.select(
        rmst.alias("rmst"),
        F.lit(tau).alias("tau"),
        F.col("n_times").cast("bigint").alias("n_times"),
    )
