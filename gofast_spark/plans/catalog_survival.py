"""Catalog entries: Kaplan-Meier survival, Spearman, Kruskal-Wallis,
thresholded correlation pairs (SURVEY §2.10 remainder).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query

# synthetic survival data over events: duration = whole-unit value,
# event observed unless user_id % 4 == 0 (25% censoring)
_SURV = """
    surv AS (
      SELECT CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev
      FROM events WHERE value IS NOT NULL)
"""


def _surv(
    spark: SparkSession, sf_dir: str, *, seg: bool = False, **extra: Column
) -> DataFrame:
    """The ``_SURV`` frame as ``(dur, ev)``, then each ``extra`` column
    by name.  ``seg=True`` puts the event type first as ``seg`` and
    keeps the typed events only, as ``_GSURV`` does."""
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    key = []
    if seg:
        e = e.where(F.col("event_type").isNotNull())
        key = [F.col("event_type").alias("seg")]
    return e.select(
        *key,
        F.floor(F.col("value")).cast("bigint").alias("dur"),
        (F.col("user_id") % 4 != 0).cast("int").alias("ev"),
        *[c.alias(name) for name, c in extra.items()],
    )


@query(
    "kaplan_meier_events",
    oracle=f"""
    WITH {_SURV},
    per_t AS (
      SELECT duration, count(*) AS n_total, sum(ev) AS n_events
      FROM surv GROUP BY duration),
    c AS (
      SELECT duration, n_events,
             sum(n_total) OVER () -
               coalesce(sum(n_total) OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM per_t),
    k AS (
      SELECT duration, n_events, n_risk,
             CASE WHEN max(CAST(n_events = n_risk AS INT)) OVER (
                    ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE exp(sum(ln(CASE WHEN n_events < n_risk
                                   THEN 1.0 - n_events * 1.0 / n_risk
                                   ELSE 1.0 END)) OVER (
               ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) END AS survival
      FROM c)
    SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(round(survival, 6) AS DOUBLE) AS survival
    FROM k WHERE n_events > 0
    """,
)
def kaplan_meier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit estimator as cumulative log-sum windows
    (kaplan_meier_analysis, gofast/stats/survival_reliability.py:24)."""
    from gofast_spark.stats.survival import kaplan_meier

    e = _surv(spark, sf_dir)
    out = kaplan_meier(e, "dur", "ev")
    return out.select(
        F.col("duration"),
        "n_risk",
        "n_events",
        F.round("survival", 6).cast("double").alias("survival"),
    )


@query(
    "nelson_aalen_events",
    oracle=f"""
    WITH {_SURV},
    per_t AS (
      SELECT duration, count(*) AS n_total, sum(ev) AS n_events
      FROM surv GROUP BY duration),
    c AS (
      SELECT duration, n_events,
             sum(n_total) OVER () -
               coalesce(sum(n_total) OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM per_t),
    h AS (
      SELECT duration, n_events, n_risk,
             sum(n_events * 1.0 / n_risk) OVER (
               ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_hazard,
             sum(n_events * 1.0 / (n_risk * 1.0 * n_risk)) OVER (
               ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS var_hazard
      FROM c)
    SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(round(cum_hazard, 6) AS DOUBLE) AS cum_hazard,
           CAST(round(var_hazard, 9) AS DOUBLE) AS var_hazard
    FROM h WHERE n_events > 0
    """,
)
def nelson_aalen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard + Aalen variance as cumulative
    windows over the distinct-time table (companion to kaplan_meier —
    ref fits lifelines driver-side, gofast/stats/survival_reliability.py:24)."""
    from gofast_spark.stats.survival import nelson_aalen

    e = _surv(spark, sf_dir)
    out = nelson_aalen(e, "dur", "ev")
    return out.select(
        F.col("duration"),
        "n_risk",
        "n_events",
        F.round("cum_hazard", 6).cast("double").alias("cum_hazard"),
        F.round("var_hazard", 9).cast("double").alias("var_hazard"),
    )


@query(
    "logrank_test_events",
    oracle="""
    WITH surv AS (
      SELECT CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
      FROM events WHERE value IS NOT NULL),
    per_t AS (
      SELECT duration,
             sum(ia) AS m_a, sum(1 - ia) AS m_b,
             sum(ev * ia) AS d_a, sum(ev * (1 - ia)) AS d_b
      FROM surv GROUP BY duration),
    risk AS (
      SELECT duration, d_a, d_b,
             sum(m_a) OVER () - coalesce(sum(m_a) OVER wp, 0) AS n_a,
             sum(m_b) OVER () - coalesce(sum(m_b) OVER wp, 0) AS n_b
      FROM per_t
      WINDOW wp AS (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    pt AS (
      SELECT duration,
             CAST(d_a AS DOUBLE)
               - (CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) AS ome,
             CASE WHEN CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) > 1.0
                  THEN CAST(d_a + d_b AS DOUBLE)
                       * (CAST(n_a AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                       * (CAST(n_b AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                       * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                          - CAST(d_a + d_b AS DOUBLE))
                       / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 1.0)
                  ELSE 0.0 END AS v,
             n_a, n_b
      FROM risk WHERE d_a + d_b > 0),
    cum AS (
      SELECT duration,
             sum(ome) OVER wc AS o_minus_e, sum(v) OVER wc AS var,
             max(n_a) OVER wc AS n_a, max(n_b) OVER wc AS n_b
      FROM pt
      WINDOW wc AS (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    last AS (SELECT * FROM cum ORDER BY duration DESC LIMIT 1)
    SELECT CAST(round(o_minus_e * o_minus_e / var, 6) AS DOUBLE) AS chi2,
           CAST(round(o_minus_e, 6) AS DOUBLE) AS o_minus_e,
           CAST(round(var, 6) AS DOUBLE) AS var,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM last
    """,
)
def logrank_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (stats/survival.py logrank_test; Mantel
    1966): O-E and hypergeometric variance per distinct event time,
    accumulated over the duration-ordered window with a final argmax
    row-pick — the whole test is one scan + windows over the
    distinct-time table, engine-deterministic by construction."""
    from gofast_spark.stats.survival import logrank_test

    e = _surv(spark, sf_dir,
              grp=F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    out = logrank_test(e, "dur", "ev", "grp", "a", "b")
    return out.select(
        F.round("chi2", 6).cast("double").alias("chi2"),
        F.round("o_minus_e", 6).cast("double").alias("o_minus_e"),
        F.round("var", 6).cast("double").alias("var"),
        "n_a",
        "n_b",
    )


@query(
    "spearman_lineitem",
    oracle="""
    WITH r AS (
      SELECT rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra,
             rank() OVER (ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb
      FROM lineitem)
    SELECT CAST(round(corr(ra, rb), 6) AS DOUBLE) AS spearman FROM r
    """,
)
def spearman_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho as Pearson-of-midranks (optimized_spearmanr,
    gofast/utils/mathext.py:3063)."""
    from gofast_spark.stats.relationships import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select(F.round("spearman", 6).cast("double").alias("spearman"))


@query(
    "kruskal_wallis_events",
    oracle="""
    WITH r AS (
      SELECT event_type AS g,
             rank() OVER (ORDER BY value)
               + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS rk
      FROM events),
    per_g AS (SELECT g, sum(rk) AS rsum, count(*) AS n FROM r GROUP BY g),
    s AS (
      SELECT sum(rsum * rsum / n) AS s, sum(n) AS N, count(*) AS k FROM per_g)
    SELECT CAST(round(12.0 / (N * (N + 1)) * s - 3.0 * (N + 1), 6) AS DOUBLE) AS h_stat,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(N AS BIGINT) AS n
    FROM s
    """,
)
def kruskal_wallis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H from per-group rank sums
    (gofast/stats/inferential.py:1039)."""
    from gofast_spark.stats.relationships import kruskal_wallis

    e = _t(spark, sf_dir, "events")
    out = kruskal_wallis(e, "value", "event_type")
    return out.select(
        F.round("h_stat", 6).cast("double").alias("h_stat"), "dof", "n"
    )


@query(
    "correlation_ops_strong",
    oracle="""
    WITH t AS (
      SELECT l_quantity,
             l_quantity * 2 + (l_partkey % 7) AS qty_noisy,
             l_discount, l_tax
      FROM lineitem),
    c AS (SELECT corr(l_quantity, qty_noisy) AS c1 FROM t)
    SELECT 'l_quantity' AS col_a, 'qty_noisy' AS col_b,
           CAST(round(c1, 6) AS DOUBLE) AS corr
    FROM c WHERE abs(c1) >= 0.5
    """,
)
def correlation_ops_strong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded correlated-pair extraction (correlation_ops,
    gofast/dataops/quality.py:3845): of the planted strongly-correlated
    pair and two independent columns, only the planted pair survives."""
    from gofast_spark.stats.relationships import correlation_ops

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        (F.col("l_quantity") * 2 + F.col("l_partkey") % 7).alias("qty_noisy"),
        "l_discount",
        "l_tax",
    )
    out = correlation_ops(
        li, ["l_quantity", "qty_noisy", "l_discount", "l_tax"], threshold=0.5
    )
    return out.select(
        "col_a", "col_b", F.round("corr", 6).cast("double").alias("corr")
    )


@query(
    "spearman_binned_exact_lineitem",
    oracle="""
    WITH r AS (
      SELECT rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra,
             rank() OVER (ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb
      FROM lineitem)
    SELECT CAST(round(corr(ra, rb), 6) AS DOUBLE) AS spearman FROM r
    """,
)
def spearman_binned_exact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``bins=`` exactness contract of the midrank family (VERDICT
    r5 #5, stats.prebin): with bins above the column's distinct count the
    pre-binning pre-check takes the exact path, so the result must
    hash-match the full-rank oracle — the same SQL spearman_lineitem
    uses, proving bins= is a no-op below threshold."""
    from gofast_spark.stats.relationships import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    out = spearman_corr(
        li, "l_quantity", "l_extendedprice", bins=200_000
    )
    return out.select(F.round("spearman", 6).cast("double").alias("spearman"))


@query(
    "midrank_binned_floor_acctbal",
    oracle="""
    SELECT CAST(1 AS INT) AS spearman_close, CAST(1 AS INT) AS ks_close,
           CAST(1 AS INT) AS bounded_ok
    """,
)
def midrank_binned_floor_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-mode invariants for ``bins=`` (VERDICT r5 #5): on the
    continuous c_acctbal column (distinct ~= N), the bins=64 spearman and
    KS results must sit within 0.05 of the exact ones, and the binned
    column's distinct count must be bounded by bins+1 — the plan-shape
    guarantee that the ordered midrank window now runs over a
    bounded-size frame at any scale."""
    from gofast_spark.stats.inferential import ks_test_2samp
    from gofast_spark.stats.prebin import prebin_column
    from gofast_spark.stats.relationships import spearman_corr

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_custkey") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    sp_exact = spearman_corr(c, "c_acctbal", "c_custkey").collect()[0][
        "spearman"
    ]
    sp_binned = spearman_corr(
        c, "c_acctbal", "c_custkey", bins=64
    ).collect()[0]["spearman"]
    ks_exact = ks_test_2samp(c, "c_acctbal", "g", "a", "b").collect()[0][
        "ks_stat"
    ]
    ks_binned = ks_test_2samp(
        c, "c_acctbal", "g", "a", "b", bins=64
    ).collect()[0]["ks_stat"]
    bounded = (
        prebin_column(c, "c_acctbal", bins=64)
        .select("c_acctbal")
        .distinct()
        .count()
    )
    row = (
        int(abs(sp_exact - sp_binned) < 0.05),
        int(abs(ks_exact - ks_binned) < 0.05),
        int(bounded <= 65),
    )
    return spark.createDataFrame(
        [row], "spearman_close int, ks_close int, bounded_ok int"
    )


@query(
    "weibull_fit_events",
    oracle=f"""
    WITH {_SURV},
    per_t AS (
      SELECT duration, count(*) AS n_total, sum(ev) AS n_events
      FROM surv GROUP BY duration),
    c AS (
      SELECT duration, n_events,
             sum(n_total) OVER () -
               coalesce(sum(n_total) OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_t),
    k AS (
      SELECT duration, n_events,
             CASE WHEN max(CAST(n_events = n_risk AS INT)) OVER (
                    ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE exp(sum(ln(CASE WHEN n_events < n_risk
                                   THEN 1.0 - n_events * 1.0 / n_risk
                                   ELSE 1.0 END)) OVER (
               ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) END AS survival
      FROM c),
    pts AS (
      SELECT ln(CAST(duration AS DOUBLE)) AS x,
             ln(-ln(survival)) AS y
      FROM k
      WHERE n_events > 0 AND survival > 0.0 AND survival < 1.0
        AND duration > 0),
    fit AS (
      SELECT count(*) AS m,
             sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sx,
             sum(CAST(floor(y * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sy,
             sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxx,
             sum(CAST(floor(x * y * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxy
      FROM pts)
    SELECT CAST((m * sxy - sx * sy) / (m * sxx - sx * sx) AS DOUBLE)
             AS shape,
           CAST(exp(-((sy - ((m * sxy - sx * sy) / (m * sxx - sx * sx)) * sx)
                      / m)
                    / ((m * sxy - sx * sy) / (m * sxx - sx * sx)))
             AS DOUBLE) AS scale,
           CAST(m AS BIGINT) AS n_points
    FROM fit
    """,
)
def weibull_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull probability-plot fit of the event-duration survival
    curve (stats/survival.py weibull_fit; Nelson 1982): the KM chain
    of kaplan_meier_events plus one micro-unit-quantized OLS aggregate
    — shape/scale are unrounded bit-exact arithmetic on the quantized
    sums in both engines."""
    from gofast_spark.stats.survival import weibull_fit

    e = _surv(spark, sf_dir)
    return weibull_fit(e, "dur", "ev")


# Grouped-survival SQL building blocks: per-segment KM with the
# absorbing-state guard mirrored (d == n at a time makes survival
# exactly 0 from there on; DuckDB ln(0) ERRORS, so the ln argument is
# clamped to 1.0 on absorbed rows — they contribute ln(1) = 0 — and
# the cumulative absorbed flag forces the survival value to 0.0, the
# exact algebra of stats/survival.py's F.when(absorbed, 0.0) +
# NULL-skipped F.log(0)).
_GSURV = """
    surv AS (
      SELECT event_type AS seg,
             CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    per_t AS (
      SELECT seg, duration, count(*) AS n_total, sum(ev) AS n_events
      FROM surv GROUP BY 1, 2),
    c AS (
      SELECT seg, duration, n_events,
             sum(n_total) OVER (PARTITION BY seg)
               - coalesce(sum(n_total) OVER (PARTITION BY seg
                   ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
      FROM per_t),
    k AS (
      SELECT seg, duration, n_events, n_risk,
             CASE WHEN max(CAST(n_events = n_risk AS INT)) OVER (
                    PARTITION BY seg ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE exp(sum(ln(CASE WHEN n_events < n_risk
                                   THEN 1.0 - n_events * 1.0 / n_risk
                                   ELSE 1.0 END)) OVER (
                    PARTITION BY seg ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             END AS survival
      FROM c)
"""


@query(
    "rmst_by_segment_events",
    oracle=f"""
    WITH {_GSURV},
    ke AS (
      SELECT seg, CAST(duration AS DOUBLE) AS t, survival
      FROM k WHERE n_events > 0 AND CAST(duration AS DOUBLE) <= 300.0),
    sg AS (
      SELECT seg, t, survival,
             coalesce(lag(t) OVER (PARTITION BY seg ORDER BY t), 0.0) AS pt,
             coalesce(lag(survival) OVER (PARTITION BY seg ORDER BY t),
                      1.0) AS ps
      FROM ke),
    a AS (
      SELECT seg,
             sum(CAST(floor((t - pt) * ps * 1e9 + 0.5) AS BIGINT))
               AS area_u,
             arg_max(survival, t) AS last_s, max(t) AS last_t,
             count(*) AS n_times
      FROM sg GROUP BY seg)
    SELECT seg AS segment,
           CAST(area_u AS DOUBLE) / 1e9
             + (300.0 - last_t) * last_s AS rmst,
           CAST(300.0 AS DOUBLE) AS tau,
           CAST(n_times AS BIGINT) AS n_times
    FROM a ORDER BY segment
    """,
)
def rmst_by_segment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment restricted mean survival time to tau=300
    (stats/survival.py restricted_mean_survival_grouped; Royston &
    Parmar 2013; the reference fits survival strata one driver-side
    lifelines call at a time, gofast/stats/survival_reliability.py:24)
    — every stratum's KM area from ONE scan via segment-partitioned
    windows.  Unlike the pooled rmst_events, per-segment risk sets hit
    the absorbing d == n state (a stratum's last subject failing), so
    the guarded product-limit branch is exercised and mirrored in the
    oracle."""
    from gofast_spark.stats.survival import restricted_mean_survival_grouped

    e = _surv(spark, sf_dir, seg=True)
    return restricted_mean_survival_grouped(e, "dur", "ev", "seg", tau=300.0)


@query(
    "aalen_johansen_events",
    oracle="""
    WITH surv AS (
      SELECT CAST(floor(value) AS BIGINT) AS duration,
             CASE WHEN user_id % 4 = 0 THEN 0
                  WHEN user_id % 4 = 1 THEN 1 ELSE 2 END AS cause
      FROM events WHERE value IS NOT NULL),
    per_t AS (
      SELECT duration, count(*) AS n_total,
             sum(CAST(cause = 1 AS BIGINT)) AS d1,
             sum(CAST(cause = 2 AS BIGINT)) AS d2
      FROM surv GROUP BY 1),
    c AS (
      SELECT duration, d1, d2,
             sum(n_total) OVER ()
               - coalesce(sum(n_total) OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_t),
    s AS (
      SELECT duration, n_risk, d1, d2,
             CASE WHEN coalesce(max(CAST(d1 + d2 = n_risk AS INT)) OVER (
                    ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) = 1
                  THEN 0.0
                  ELSE exp(coalesce(sum(ln(CASE WHEN d1 + d2 < n_risk
                                   THEN 1.0 - (d1 + d2) * 1.0 / n_risk
                                   ELSE 1.0 END)) OVER (
                    ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0.0))
             END AS surv_prev
      FROM c),
    f AS (
      SELECT duration, n_risk, d1, d2, surv_prev,
             sum(surv_prev * d1 * 1.0 / n_risk) OVER (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cif1,
             sum(surv_prev * d2 * 1.0 / n_risk) OVER (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cif2
      FROM s)
    SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
           CAST(floor(surv_prev * 1000000 + 0.5) AS BIGINT)
             AS surv_prev_u6,
           CAST(floor(cif1 * 1000000 + 0.5) AS BIGINT) AS cif1_u6,
           CAST(floor(cif2 * 1000000 + 0.5) AS BIGINT) AS cif2_u6
    FROM f WHERE d1 + d2 > 0
    """,
)
def aalen_johansen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competing-risks cumulative incidence (stats/survival.py
    aalen_johansen; Aalen & Johansen 1978): cause 1 vs cause 2 vs
    censoring carved from user_id, CIF_k(t) = sum S(s-) d_ks / n_s
    with the all-cause product-limit S(s-) over strictly-preceding
    rows — the correct decomposition where per-cause KM over-counts.
    One groupBy(duration) + ordered windows; the oracle replays the
    guarded ln algebra (DuckDB ln(0) errors where Spark NULL-skips).
    The exp/ln-derived outputs present as micro-unit-quantized
    integers (the final-transcendental discipline)."""
    from gofast_spark.stats.survival import aalen_johansen

    e = _surv(
        spark, sf_dir,
        cause=F.when(F.col("user_id") % 4 == 0, F.lit(0))
        .when(F.col("user_id") % 4 == 1, F.lit(1))
        .otherwise(F.lit(2)),
    )
    out = aalen_johansen(e, "dur", "cause")

    def u6(c):
        return F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("bigint")

    return out.select(
        "duration", "n_risk", "d1", "d2",
        u6("surv_prev").alias("surv_prev_u6"),
        u6("cif1").alias("cif1_u6"),
        u6("cif2").alias("cif2_u6"),
    )


_COX_ITER = 4


def _cox_terms(beta: str) -> tuple[str, str]:
    """The nano-unit-quantized Newton summands at a given beta SQL
    expression — mirrors stats/survival.cox_ph_binary's expression
    tree exactly."""
    w1 = f"CAST(n1 AS DOUBLE) * exp({beta})"
    p = f"({w1}) / (CAST(n0 AS DOUBLE) + {w1})"
    u = f"CAST(d1 AS DOUBLE) - CAST(d0 + d1 AS DOUBLE) * ({p})"
    i = (f"CAST(d0 + d1 AS DOUBLE) * ({p})"
         f" * (CAST(n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) + {w1}))")
    qu = f"sum(CAST(floor(({u}) * 1e9 + 0.5) AS BIGINT))"
    qi = f"sum(CAST(floor(({i}) * 1e9 + 0.5) AS BIGINT))"
    return qu, qi


def _cox_oracle() -> str:
    """Unrolled Newton chain (single reference per level, the HITS
    oracle lesson)."""
    ctes = ["""surv AS (
      SELECT CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev,
             CAST(user_id % 2 AS INTEGER) AS grp
      FROM events WHERE value IS NOT NULL),
    per_t AS (
      SELECT duration, sum(1 - grp) AS m0, sum(grp) AS m1,
             sum(ev * (1 - grp)) AS d0, sum(ev * grp) AS d1
      FROM surv GROUP BY 1),
    risk AS (
      SELECT duration, d0, d1,
             sum(m0) OVER ()
               - coalesce(sum(m0) OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n0,
             sum(m1) OVER ()
               - coalesce(sum(m1) OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1
      FROM per_t),
    j AS (SELECT * FROM risk WHERE d0 + d1 > 0),
    b0 AS (SELECT 0.0 AS beta)"""]
    for k in range(1, _COX_ITER + 1):
        qu, qi = _cox_terms("beta")
        ctes.append(f"""a{k} AS (
      SELECT {qu} AS su, {qi} AS si, any_value(beta) AS b
      FROM j, b{k - 1}),
    b{k} AS (
      SELECT b + CAST(su AS DOUBLE) / CAST(si AS DOUBLE) AS beta
      FROM a{k})""")
    qu, qi = _cox_terms("beta")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    fin AS (
      SELECT any_value(beta) AS beta, {qu} AS uf, {qi} AS if_
      FROM j, b{_COX_ITER}),
    sizes AS (
      SELECT sum(m0) AS n_0, sum(m1) AS n_1, sum(d0 + d1) AS n_events
      FROM per_t)
    SELECT beta,
           CAST(floor(exp(beta) * 1e6 + 0.5) AS BIGINT) AS hazard_ratio_u6,
           1.0 / sqrt(CAST(if_ AS DOUBLE) / 1e9) AS se,
           CAST(uf AS DOUBLE) / 1e9 AS u_final,
           CAST(n_0 AS BIGINT) AS n_0, CAST(n_1 AS BIGINT) AS n_1,
           CAST(n_events AS BIGINT) AS n_events
    FROM fin, sizes
    """


@query("cox_ph_events", oracle=_cox_oracle())
def cox_ph_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards fit of the even/odd-user covariate on
    the synthetic survival frame (stats/survival.py cox_ph_binary;
    Cox 1972, Breslow 1974) — the logrank family's effect-size
    estimator: rollup-sized risk-set table, 4 in-plan Newton
    iterations with nano-unit-exact score/information sums, unrolled
    verbatim by the oracle.  hazard_ratio presents micro-unit: beta is
    nano-quantized so both engines agree bit-for-bit, but
    ``exp(beta)`` goes through JVM Math.exp vs DuckDB libm, which
    disagree by 1 ulp on some arguments (observed at sf0.01)."""
    from gofast_spark.stats.survival import cox_ph_binary

    e = _surv(spark, sf_dir, grp=(F.col("user_id") % 2).cast("int"))
    out = cox_ph_binary(e, "dur", "ev", "grp", iterations=_COX_ITER)
    return out.select(
        "beta",
        F.floor(F.col("hazard_ratio") * 1e6 + 0.5)
        .cast("bigint")
        .alias("hazard_ratio_u6"),
        "se",
        "u_final",
        "n_0",
        "n_1",
        "n_events",
    )


def _cox_grouped_oracle() -> str:
    """Per-segment unrolled Newton chain: the iteration state is a
    segment-keyed CTE joined back each level (single reference per
    level, the HITS oracle lesson)."""
    ctes = ["""surv AS (
      SELECT event_type AS seg,
             CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev,
             CAST(user_id % 2 AS INTEGER) AS grp
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    per_t AS (
      SELECT seg, duration, sum(1 - grp) AS m0, sum(grp) AS m1,
             sum(ev * (1 - grp)) AS d0, sum(ev * grp) AS d1
      FROM surv GROUP BY 1, 2),
    risk AS (
      SELECT seg, duration, d0, d1,
             sum(m0) OVER (PARTITION BY seg)
               - coalesce(sum(m0) OVER (PARTITION BY seg ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n0,
             sum(m1) OVER (PARTITION BY seg)
               - coalesce(sum(m1) OVER (PARTITION BY seg ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1
      FROM per_t),
    j AS (SELECT * FROM risk WHERE d0 + d1 > 0),
    b0 AS (SELECT DISTINCT seg, 0.0 AS beta FROM j)"""]
    for k in range(1, _COX_ITER + 1):
        qu, qi = _cox_terms("beta")
        ctes.append(f"""a{k} AS (
      SELECT j.seg, {qu} AS su, {qi} AS si, any_value(beta) AS b
      FROM j JOIN b{k - 1} ON b{k - 1}.seg = j.seg GROUP BY j.seg),
    b{k} AS (
      SELECT seg, b + CAST(su AS DOUBLE) / CAST(si AS DOUBLE) AS beta
      FROM a{k})""")
    _qu, qi = _cox_terms("beta")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    fin AS (
      SELECT j.seg, any_value(beta) AS beta, {qi} AS if_
      FROM j JOIN b{_COX_ITER} ON b{_COX_ITER}.seg = j.seg GROUP BY j.seg),
    sizes AS (
      SELECT seg, sum(m0) AS n_0, sum(m1) AS n_1,
             sum(d0 + d1) AS n_events
      FROM per_t GROUP BY seg)
    SELECT fin.seg AS segment, beta,
           CAST(floor(exp(beta) * 1e6 + 0.5) AS BIGINT) AS hazard_ratio_u6,
           1.0 / sqrt(CAST(if_ AS DOUBLE) / 1e9) AS se,
           CAST(n_0 AS BIGINT) AS n_0, CAST(n_1 AS BIGINT) AS n_1,
           CAST(n_events AS BIGINT) AS n_events
    FROM fin JOIN sizes ON sizes.seg = fin.seg
    ORDER BY segment
    """


@query("cox_ph_by_segment_events", oracle=_cox_grouped_oracle())
def cox_ph_by_segment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Cox proportional-hazards fits (stats/survival.py
    cox_ph_binary_grouped; Cox 1972, Breslow 1974; the reference fits
    lifelines per stratum driver-side,
    gofast/stats/survival_reliability.py:24-112): one event_type
    stratum per row, all five Newton chains sharing ONE scan via
    segment-partitioned risk windows and a segment-keyed broadcast
    iteration state.  Nano-unit summand quantization makes each
    stratum's beta bit-identical to the ungrouped fit on that stratum;
    the oracle unrolls the per-segment Newton chain verbatim.
    hazard_ratio presents micro-unit (exp 1-ulp discipline)."""
    from gofast_spark.stats.survival import cox_ph_binary_grouped

    e = _surv(spark, sf_dir, seg=True,
              grp=(F.col("user_id") % 2).cast("int"))
    out = cox_ph_binary_grouped(e, "dur", "ev", "grp", "seg",
                                iterations=_COX_ITER)
    return out.select(
        "segment",
        "beta",
        F.floor(F.col("hazard_ratio") * 1e6 + 0.5)
        .cast("bigint")
        .alias("hazard_ratio_u6"),
        "se",
        "n_0",
        "n_1",
        "n_events",
    )


@query(
    "rmst_events",
    oracle=f"""
    WITH {_SURV},
    per_t AS (
      SELECT duration, count(*) AS n_total, sum(ev) AS n_events
      FROM surv GROUP BY duration),
    c AS (
      SELECT duration, n_events,
             sum(n_total) OVER () -
               coalesce(sum(n_total) OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_t),
    k AS (
      SELECT duration, n_events,
             CASE WHEN max(CAST(n_events = n_risk AS INT)) OVER (
                    ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE exp(sum(ln(CASE WHEN n_events < n_risk
                                   THEN 1.0 - n_events * 1.0 / n_risk
                                   ELSE 1.0 END)) OVER (
               ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) END AS survival
      FROM c),
    ke AS (
      SELECT CAST(duration AS DOUBLE) AS t, survival
      FROM k WHERE n_events > 0 AND CAST(duration AS DOUBLE) <= 300.0),
    seg AS (
      SELECT t, survival,
             coalesce(lag(t) OVER (ORDER BY t), 0.0) AS pt,
             coalesce(lag(survival) OVER (ORDER BY t), 1.0) AS ps
      FROM ke),
    a AS (
      SELECT sum(CAST(floor((t - pt) * ps * 1e9 + 0.5) AS BIGINT))
               AS area_u,
             arg_max(survival, t) AS last_s, max(t) AS last_t,
             count(*) AS n_times
      FROM seg)
    SELECT CAST(area_u AS DOUBLE) / 1e9
             + (300.0 - last_t) * last_s AS rmst,
           CAST(300.0 AS DOUBLE) AS tau,
           CAST(n_times AS BIGINT) AS n_times
    FROM a
    """,
)
def rmst_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time to tau=300 over the synthetic
    survival frame (stats/survival.py restricted_mean_survival;
    Royston & Parmar 2013) — the KM step-function area via one lag
    window, nano-unit-exact segment sums."""
    from gofast_spark.stats.survival import restricted_mean_survival

    e = _surv(spark, sf_dir)
    return restricted_mean_survival(e, "dur", "ev", tau=300.0)


@query(
    "km_median_by_segment_events",
    oracle=f"""
    WITH {_GSURV}
    SELECT seg AS segment,
           min(CASE WHEN CAST(floor(survival * 1000000 + 0.5) AS BIGINT)
                         <= 500000
                    THEN duration END) AS median_duration,
           min(CAST(floor(survival * 1000000 + 0.5) AS BIGINT))
             AS min_survival_u6,
           count(*) AS n_times
    FROM k WHERE n_events > 0
    GROUP BY seg ORDER BY segment
    """,
)
def km_median_by_segment_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment Kaplan-Meier median survival time (stats/survival.py
    km_median_grouped; ref kaplan_meier_analysis,
    gofast/stats/survival_reliability.py:24 reads the median off a
    driver-side lifelines fit): the first event time where each
    stratum's curve reaches 0.5, NULL when censoring keeps the curve
    above it — one scan via the shared grouped product-limit curve
    with the absorbing-state guard.  The 0.5 threshold and the
    min-survival readout are micro-unit-quantized integers (a curve
    through exactly 1/2 sits 1 ulp from the JVM/libm split)."""
    from gofast_spark.stats.survival import km_median_grouped

    e = _surv(spark, sf_dir, seg=True)
    return km_median_grouped(e, "dur", "ev", "seg")


@query(
    "weibull_by_segment_events",
    oracle=f"""
    WITH {_GSURV},
    pts AS (
      SELECT seg, ln(CAST(duration AS DOUBLE)) AS x,
             ln(-ln(survival)) AS y
      FROM k
      WHERE n_events > 0 AND survival > 0.0 AND survival < 1.0
        AND duration > 0),
    fit AS (
      SELECT seg AS segment, count(*) AS m,
             sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sx,
             sum(CAST(floor(y * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sy,
             sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxx,
             sum(CAST(floor(x * y * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS sxy
      FROM pts GROUP BY seg)
    SELECT segment,
           CASE WHEN m >= 2 AND m * sxx - sx * sx <> 0.0
                THEN CAST((m * sxy - sx * sy) / (m * sxx - sx * sx)
                     AS DOUBLE) END AS shape,
           CASE WHEN m >= 2 AND m * sxx - sx * sx <> 0.0
                THEN CAST(exp(-((sy - ((m * sxy - sx * sy)
                                 / (m * sxx - sx * sx)) * sx) / m)
                              / ((m * sxy - sx * sy)
                                 / (m * sxx - sx * sx))) AS DOUBLE)
           END AS scale,
           CAST(m AS BIGINT) AS n_points
    FROM fit ORDER BY segment
    """,
)
def weibull_by_segment_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment Weibull probability-plot fits (stats/survival.py
    weibull_fit_grouped; Nelson 1982): every event-type stratum's
    (shape, scale) from ONE scan — the linearized-KM OLS with
    segment-grouped micro-unit-quantized moments, NULL where the fit
    is undefined.  Completes the grouped-survival family (Cox, RMST,
    median, Weibull) the r10 verdict queued for breadth."""
    from gofast_spark.stats.survival import weibull_fit_grouped

    e = _surv(spark, sf_dir, seg=True)
    return weibull_fit_grouped(e, "dur", "ev", "seg")


@query(
    "gehan_wilcoxon_events",
    oracle="""
    WITH surv AS (
      SELECT CAST(floor(value) AS BIGINT) AS duration,
             CAST(user_id % 4 <> 0 AS INTEGER) AS ev,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
      FROM events WHERE value IS NOT NULL),
    per_t AS (
      SELECT duration,
             sum(ia) AS m_a, sum(1 - ia) AS m_b,
             sum(ev * ia) AS d_a, sum(ev * (1 - ia)) AS d_b
      FROM surv GROUP BY duration),
    risk AS (
      SELECT duration, d_a, d_b,
             sum(m_a) OVER () - coalesce(sum(m_a) OVER wp, 0) AS n_a,
             sum(m_b) OVER () - coalesce(sum(m_b) OVER wp, 0) AS n_b
      FROM per_t
      WINDOW wp AS (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    pt AS (
      SELECT duration,
             (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
               * (CAST(d_a AS DOUBLE)
                  - (CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))))
               AS ome,
             (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
               * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
               * CASE WHEN CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                           > 1.0
                  THEN CAST(d_a + d_b AS DOUBLE)
                       * (CAST(n_a AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                       * (CAST(n_b AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                       * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                          - CAST(d_a + d_b AS DOUBLE))
                       / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                          - 1.0)
                  ELSE 0.0 END AS v,
             n_a, n_b
      FROM risk WHERE d_a + d_b > 0),
    cum AS (
      SELECT duration,
             sum(ome) OVER wc AS o_minus_e, sum(v) OVER wc AS var,
             max(n_a) OVER wc AS n_a, max(n_b) OVER wc AS n_b
      FROM pt
      WINDOW wc AS (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    last AS (SELECT * FROM cum ORDER BY duration DESC LIMIT 1)
    SELECT CAST(round(o_minus_e * o_minus_e / var, 6) AS DOUBLE) AS chi2,
           CAST(round(o_minus_e, 4) AS DOUBLE) AS o_minus_e,
           CAST(round(var, 2) AS DOUBLE) AS var,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM last
    """,
)
def gehan_wilcoxon_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Wilcoxon weighted log-rank test (stats/survival.py
    logrank_test weight='gehan'; Gehan, Biometrika 1965; Breslow 1970;
    Fleming & Harrington ch. 7) — the early-difference-weighted
    companion of logrank_test_events (weights w_t = n_t emphasize
    early event times where the risk sets are large), same one-scan
    distinct-time construction with ordered-window accumulation."""
    from gofast_spark.stats.survival import logrank_test

    e = _surv(spark, sf_dir,
              grp=F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    out = logrank_test(e, "dur", "ev", "grp", "a", "b", weight="gehan")
    return out.select(
        F.round("chi2", 6).cast("double").alias("chi2"),
        F.round("o_minus_e", 4).cast("double").alias("o_minus_e"),
        F.round("var", 2).cast("double").alias("var"),
        "n_a",
        "n_b",
    )
