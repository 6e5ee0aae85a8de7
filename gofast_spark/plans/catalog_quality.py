"""Catalog entries for the quality / stats modules (SURVEY §2.8, §2.10
descriptive) — the round-1 modules that shipped without oracle coverage,
now each hash-matched against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query
from gofast_spark.quality.skew import BOXCOX_GRID

# events.value has no natural NULLs; every missing-data entry nullifies the
# same slice (value < 30) on both sides so the ops have something to do.
_NULLIFY = "CASE WHEN value < 30 THEN NULL ELSE value END"


def _events_nulled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("value") < 30, None).otherwise(F.col("value")).alias("v"),
    )


@query(
    "missing_profile_events",
    oracle=f"""
    WITH t AS (SELECT {_NULLIFY} AS v, user_id FROM events)
    SELECT 'v' AS column,
           CAST(count(*) FILTER (v IS NULL) AS BIGINT) AS n_missing,
           CAST(count(*) FILTER (v IS NULL) AS DOUBLE) / count(*) AS missing_ratio
    FROM t
    UNION ALL
    SELECT 'user_id',
           CAST(count(*) FILTER (user_id IS NULL) AS BIGINT),
           CAST(count(*) FILTER (user_id IS NULL) AS DOUBLE) / count(*)
    FROM t
    """,
)
def missing_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data profile (Missing.isnull, gofast/dataops/core.py:911;
    check_missing_data, gofast/dataops/quality.py:1127)."""
    from gofast_spark.quality import missing_profile

    return missing_profile(_events_nulled(spark, sf_dir), ["v", "user_id"])


@query(
    "fill_mean_events",
    oracle=f"""
    WITH t AS (SELECT event_id, {_NULLIFY} AS v FROM events),
    m AS (SELECT avg(v) AS mu FROM t)
    SELECT event_id, CAST(round(coalesce(v, mu), 4) AS DOUBLE) AS v
    FROM t, m
    """,
)
def fill_mean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation (handle_missing_data fill_mean,
    gofast/dataops/quality.py:728)."""
    from gofast_spark.quality import handle_missing_data

    out = handle_missing_data(
        _events_nulled(spark, sf_dir), "fill_mean", columns=["v"]
    )
    return out.select("event_id", F.round("v", 4).cast("double").alias("v"))


@query(
    "drop_missing_rows_events",
    oracle=f"""
    WITH t AS (SELECT event_id, {_NULLIFY} AS v FROM events)
    SELECT event_id, v FROM t WHERE v IS NOT NULL
    """,
)
def drop_missing_rows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row dropping (handle_missing_data drop_rows / drop_nan_in,
    gofast/core/array_manager.py:3311)."""
    from gofast_spark.quality import handle_missing_data

    out = handle_missing_data(
        _events_nulled(spark, sf_dir), "drop_rows", columns=["v"]
    )
    return out.select("event_id", "v")


@query(
    "outliers_iqr_clip_acctbal",
    oracle="""
    WITH s AS (
      SELECT quantile_cont(c_acctbal, 0.25) AS q1,
             quantile_cont(c_acctbal, 0.75) AS q3
      FROM customer)
    SELECT c_custkey,
           CAST(round(
             CASE WHEN c_acctbal < q1 - 1.5 * (q3 - q1) THEN q1 - 1.5 * (q3 - q1)
                  WHEN c_acctbal > q3 + 1.5 * (q3 - q1) THEN q3 + 1.5 * (q3 - q1)
                  ELSE c_acctbal END, 4) AS DOUBLE) AS c_acctbal
    FROM customer, s
    """,
)
def outliers_iqr_clip_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR clipping (handle_outliers_in, gofast/dataops/quality.py:615)."""
    from gofast_spark.quality import handle_outliers_in

    c = _t(spark, sf_dir, "customer")
    out = handle_outliers_in(c, ["c_acctbal"], method="iqr", action="clip")
    return out.select(
        "c_custkey", F.round("c_acctbal", 4).cast("double").alias("c_acctbal")
    )


@query(
    "handle_duplicates_drop_orders",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def handle_duplicates_drop_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate dropping (handle_duplicates 'drop',
    gofast/dataops/quality.py:4677)."""
    from gofast_spark.quality import handle_duplicates

    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    return handle_duplicates(o, "drop")


@query(
    "describe_lineitem",
    oracle="""
    SELECT 'l_quantity' AS column, count(l_quantity) AS count,
           CAST(round(avg(l_quantity), 4) AS DOUBLE) AS mean,
           CAST(round(stddev_samp(l_quantity), 4) AS DOUBLE) AS std,
           CAST(min(l_quantity) AS DOUBLE) AS min,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q1,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q3,
           CAST(max(l_quantity) AS DOUBLE) AS max
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount),
           CAST(round(avg(l_discount), 4) AS DOUBLE),
           CAST(round(stddev_samp(l_discount), 4) AS DOUBLE),
           CAST(min(l_discount) AS DOUBLE),
           CAST(quantile_cont(l_discount, 0.25) AS DOUBLE),
           CAST(quantile_cont(l_discount, 0.5) AS DOUBLE),
           CAST(quantile_cont(l_discount, 0.75) AS DOUBLE),
           CAST(max(l_discount) AS DOUBLE)
    FROM lineitem
    """,
)
def describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe() profile (gofast/stats/descriptive.py:2224)."""
    from gofast_spark.stats import describe

    li = _t(spark, sf_dir, "lineitem")
    out = describe(li, ["l_quantity", "l_discount"])
    return out.select(
        "column",
        "count",
        F.round("mean", 4).cast("double").alias("mean"),
        F.round("std", 4).cast("double").alias("std"),
        "min",
        "q1",
        "median",
        "q3",
        "max",
    )


@query(
    "corr_matrix_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE) AS corr
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           CAST(round(corr(l_quantity, l_discount), 6) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           CAST(round(corr(l_extendedprice, l_discount), 6) AS DOUBLE) FROM lineitem
    """,
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations in one pass (analyze_data_corr,
    gofast/dataops/quality.py:1863)."""
    from gofast_spark.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    out = corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select(
        "col_a", "col_b", F.round("corr", 6).cast("double").alias("corr")
    )


@query(
    "scale_acctbal_customer",
    oracle="""
    WITH s AS (
      SELECT min(c_acctbal) AS mn, max(c_acctbal) AS mx,
             avg(c_acctbal) AS mu, stddev_pop(c_acctbal) AS sd
      FROM customer)
    SELECT c_custkey,
           CAST(round((c_acctbal - mn) / (mx - mn), 6) AS DOUBLE) AS acct_minmax,
           CAST(round((c_acctbal - mu) / sd, 6) AS DOUBLE) AS acct_z
    FROM customer, s
    """,
)
def scale_acctbal_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max + z-score scaling (scale_data, gofast/dataops/quality.py:502;
    z_scores, gofast/stats/descriptive.py:2356)."""
    from gofast_spark.quality import minmax_scale, z_scores

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = minmax_scale(c, ["c_acctbal"], suffix="_mm")
    out = z_scores(out, ["c_acctbal"], suffix="_z")
    return out.select(
        "c_custkey",
        F.round("c_acctbal_mm", 6).cast("double").alias("acct_minmax"),
        F.round("c_acctbal_z", 6).cast("double").alias("acct_z"),
    )


@query(
    "skewness_profile_lineitem",
    oracle="""
    WITH s AS (SELECT avg(l_quantity) AS mq, avg(l_extendedprice) AS mp FROM lineitem)
    SELECT 'l_quantity' AS column,
           CAST(round((sum(pow(l_quantity - mq, 3)) / count(*))
                / pow(sum(pow(l_quantity - mq, 2)) / count(*), 1.5), 6) AS DOUBLE) AS skewness
    FROM lineitem, s GROUP BY mq
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(round((sum(pow(l_extendedprice - mp, 3)) / count(*))
                / pow(sum(pow(l_extendedprice - mp, 2)) / count(*), 1.5), 6) AS DOUBLE)
    FROM lineitem, s GROUP BY mp
    """,
)
def skewness_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness per column (handle_skew's diagnostic,
    gofast/dataops/quality.py:4372; Spark's ``skewness`` is the population
    g1 = m3 / m2^1.5 — the oracle computes the same moments explicitly)."""
    from gofast_spark.quality import skewness_profile

    li = _t(spark, sf_dir, "lineitem")
    out = skewness_profile(li, ["l_quantity", "l_extendedprice"])
    return out.select(
        "column", F.round("skewness", 6).cast("double").alias("skewness")
    )


@query(
    "boxcox_quantity",
    oracle=f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in BOXCOX_GRID)}]) AS lam),
    ll AS (
      SELECT lam,
             -count(*) / 2.0 * ln(var_pop(
               CASE WHEN lam = 0 THEN ln(l_quantity)
                    ELSE (pow(l_quantity, lam) - 1) / lam END))
             + (lam - 1) * sum(ln(l_quantity)) AS loglik
      FROM lineitem, g GROUP BY lam),
    best AS (SELECT lam FROM ll ORDER BY loglik DESC, lam ASC LIMIT 1)
    SELECT l_orderkey, l_linenumber, CAST(best.lam AS DOUBLE) AS lam,
           CAST(round(CASE WHEN best.lam = 0 THEN ln(l_quantity)
                ELSE (pow(l_quantity, best.lam) - 1) / best.lam END, 6) AS DOUBLE) AS l_quantity_bc
    FROM lineitem, best
    """,
)
def boxcox_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox with real grid-MLE lambda (boxcox_transformation,
    gofast/dataops/preprocessing.py:2545) — one aggregate fits all 21
    candidate lambdas, DuckDB replays the same profile likelihood."""
    from gofast_spark.quality.skew import _bc, boxcox_lambda

    li = _t(spark, sf_dir, "lineitem")
    lam = boxcox_lambda(li, "l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.lit(float(lam)).alias("lam"),
        F.round(_bc(F.col("l_quantity"), lam), 6)
        .cast("double")
        .alias("l_quantity_bc"),
    )


@query(
    "verify_integrity_customer",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             quantile_cont(c_acctbal, 0.25) AS q1, quantile_cont(c_acctbal, 0.75) AS q3,
             count(DISTINCT c_acctbal) AS d_acct, count(*) FILTER (c_acctbal IS NULL) AS m_acct,
             count(DISTINCT c_nationkey) AS d_nat, count(*) FILTER (c_nationkey IS NULL) AS m_nat
      FROM customer)
    SELECT 'c_acctbal' AS column, CAST(m_acct AS BIGINT) AS n_missing,
           CAST(m_acct AS DOUBLE) / n AS missing_ratio,
           CAST(d_acct AS BIGINT) AS n_distinct,
           (SELECT CAST(count(*) AS BIGINT) FROM customer, s
            WHERE c_acctbal < q1 - 1.5 * (q3 - q1) OR c_acctbal > q3 + 1.5 * (q3 - q1)) AS n_outliers
    FROM s
    UNION ALL
    SELECT 'c_nationkey', CAST(m_nat AS BIGINT), CAST(m_nat AS DOUBLE) / n,
           CAST(d_nat AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM customer,
             (SELECT quantile_cont(c_nationkey, 0.25) AS nq1,
                     quantile_cont(c_nationkey, 0.75) AS nq3 FROM customer)
            WHERE c_nationkey < nq1 - 1.5 * (nq3 - nq1) OR c_nationkey > nq3 + 1.5 * (nq3 - nq1))
    FROM s
    """,
)
def verify_integrity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity report (verify_data_integrity,
    gofast/dataops/inspection.py:28) over customer's numeric columns."""
    from gofast_spark.quality import verify_data_integrity

    c = _t(spark, sf_dir, "customer").select("c_acctbal", "c_nationkey")
    return verify_data_integrity(c, exact=True)


@query(
    "replace_data_region",
    oracle="""
    SELECT r_regionkey, r_name, copy_id
    FROM region CROSS JOIN (SELECT unnest([0, 1, 2]) AS copy_id)
    """,
)
def replace_data_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row replication via a broadcast range spine (replace_data,
    gofast/utils/data_utils.py:4642)."""
    from gofast_spark.quality import replace_data

    r = _t(spark, sf_dir, "region")
    out = replace_data(r, 3)
    return out.select("r_regionkey", "r_name", "copy_id")


@query(
    "drop_correlated_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    """,
)
def drop_correlated_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_correlated_features (gofast/dataops/quality.py:4054): a
    planted perfectly-correlated column (2*l_quantity) must be dropped,
    the independent columns kept — the oracle is the surviving schema."""
    from gofast_spark.quality import drop_correlated_features

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_quantity") * 2).alias("qty_x2"),
        "l_extendedprice",
        "l_discount",
    )
    return drop_correlated_features(
        li,
        ["l_quantity", "qty_x2", "l_extendedprice", "l_discount"],
        threshold=0.9,
    )


@query(
    "nan_to_na_events",
    oracle="""
    SELECT event_id, CASE WHEN value < 30 THEN NULL ELSE value END AS v
    FROM events
    """,
)
def nan_to_na_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN -> NULL normalization (nan_to_na,
    gofast/utils/data_utils.py:3086): Spark plants real float NaNs, the
    operator converts them to SQL NULL, matching the oracle's NULLs."""
    from gofast_spark.quality import nan_to_na

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 30, F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return nan_to_na(e, ["v"])


@query(
    "inspect_data_customer",
    oracle="""
    SELECT 'c_custkey' AS column, 'bigint' AS dtype,
           CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT) AS n_missing,
           CAST(count(*) FILTER (c_custkey IS NULL) AS DOUBLE) / count(*) AS missing_ratio,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           CAST(min(c_custkey) AS VARCHAR) AS min_value,
           CAST(max(c_custkey) AS VARCHAR) AS max_value
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', 'string',
           CAST(count(*) FILTER (c_mktsegment IS NULL) AS BIGINT),
           CAST(count(*) FILTER (c_mktsegment IS NULL) AS DOUBLE) / count(*),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT),
           min(c_mktsegment), max(c_mktsegment)
    FROM customer
    """,
)
def inspect_data_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-profile inspection in one aggregation pass (inspect_data,
    gofast/dataops/inspection.py:257)."""
    from gofast_spark.quality import inspect_data

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return inspect_data(c)


@query(
    "quality_control_orders",
    oracle="""
    SELECT 'o_orderkey' AS column, 'not_null' AS rule,
           CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_violations,
           count(*) FILTER (o_orderkey IS NULL) = 0 AS ok
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', 'min',
           CAST(count(*) FILTER (o_totalprice < 1000) AS BIGINT),
           count(*) FILTER (o_totalprice < 1000) = 0
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', 'max',
           CAST(count(*) FILTER (o_totalprice > 400000) AS BIGINT),
           count(*) FILTER (o_totalprice > 400000) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'allowed',
           CAST(count(*) FILTER (o_orderstatus NOT IN ('F', 'O')) AS BIGINT),
           count(*) FILTER (o_orderstatus NOT IN ('F', 'O')) = 0
    FROM orders
    """,
)
def quality_control_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based QC report in one aggregation pass (quality_control,
    gofast/dataops/quality.py:4813)."""
    from gofast_spark.quality import quality_control

    o = _t(spark, sf_dir, "orders")
    return quality_control(
        o,
        {
            "o_orderkey": {"not_null": True},
            "o_totalprice": {"min": 1000, "max": 400000},
            "o_orderstatus": {"allowed": ["F", "O"]},
        },
    )


@query(
    "gini_acctbal",
    oracle="""
    WITH r AS (
      SELECT c_acctbal AS x, row_number() OVER (ORDER BY c_acctbal) AS i
      FROM customer WHERE c_acctbal IS NOT NULL)
    SELECT CAST(round(2.0 * sum(i * x) / (count(*) * sum(x))
                - (count(*) + 1.0) / count(*), 6) AS DOUBLE) AS gini
    FROM r
    """,
)
def gini_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient via the distinct-value rank identity (gini_coeffs,
    gofast/stats/descriptive.py:51) — the oracle uses the naive raw-rank
    formula, proving the reduced formulation is exactly equivalent."""
    from gofast_spark.stats import gini_coeff

    c = _t(spark, sf_dir, "customer")
    out = gini_coeff(c, "c_acctbal")
    return out.select(F.round("gini", 6).cast("double").alias("gini"))


@query(
    "weighted_median_quantity",
    oracle="""
    WITH pv AS (SELECT l_quantity AS v, sum(l_extendedprice) AS w FROM lineitem GROUP BY 1),
    c AS (
      SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(w) OVER () AS cw
      FROM pv)
    SELECT min(v) AS weighted_median FROM c WHERE cw >= 0.5
    """,
)
def weighted_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median over per-value weight sums (wmedian,
    gofast/stats/descriptive.py:517)."""
    from gofast_spark.stats import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(li, "l_quantity", "l_extendedprice")


@query(
    "assess_outlier_impact_customer",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(c_custkey, 0.25) AS k1, quantile_cont(c_custkey, 0.75) AS k3,
             quantile_cont(c_acctbal, 0.25) AS a1, quantile_cont(c_acctbal, 0.75) AS a3
      FROM customer),
    w AS (
      SELECT 'with_outliers' AS variant, CAST(c_custkey AS DOUBLE) AS x, c_acctbal AS y
      FROM customer
      UNION ALL
      SELECT 'without_outliers', CAST(c_custkey AS DOUBLE), c_acctbal
      FROM customer, b
      WHERE c_custkey >= k1 - 1.5 * (k3 - k1) AND c_custkey <= k3 + 1.5 * (k3 - k1)
        AND c_acctbal >= a1 - 1.5 * (a3 - a1) AND c_acctbal <= a3 + 1.5 * (a3 - a1))
    SELECT variant,
           CAST(round(sqrt((1 - pow(corr(x, y), 2)) * var_pop(y)), 4) AS DOUBLE) AS rmse,
           CAST(round(pow(corr(x, y), 2), 4) AS DOUBLE) AS r2,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY variant
    """,
)
def assess_outlier_impact_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-metric delta with vs without IQR outliers
    (assess_outlier_impact, gofast/dataops/quality.py:887).  The MLlib
    OLS fit on one feature has the closed form DuckDB replays: rmse =
    sqrt((1-r^2) * var_pop(y)), r2 = corr^2 — so even the modeling leg
    is differentially checked, not just the outlier filter."""
    from gofast_spark.operators import assess_outlier_impact

    c = _t(spark, sf_dir, "customer")
    out = assess_outlier_impact(c, ["c_custkey"], "c_acctbal")
    return out.select(
        "variant",
        F.round("rmse", 4).cast("double").alias("rmse"),
        F.round("r2", 4).cast("double").alias("r2"),
        "n",
    )


@query(
    "augment_noise_invariants_customer",
    oracle="""
    SELECT CAST(1 AS INT) AS grew_ok, CAST(1 AS INT) AS bounded_ok,
           CAST(1 AS INT) AS keys_subset_ok, CAST(1 AS INT) AS noise_bounded_ok
    """,
)
def augment_noise_invariants_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant oracle for the seeded augmentation family (augment_data
    gofast/dataops/preprocessing.py:3083, add_noises_to
    gofast/core/handlers.py:1531): Spark's sample/randn draws are not
    SQL-replayable, but the contracts are checkable — the augmented
    frame grows but stays under the Chernoff-safe 2x bound for
    fraction=0.5, resampled keys are a subset of the originals, and
    uniform noise of scale s never moves a value by more than s."""
    from gofast_spark.quality import add_noises_to, augment_data

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    n = c.count()
    aug = augment_data(c, fraction=0.5, noise_std=0.01, seed=42)
    n_aug = aug.count()
    keys_extra = (
        aug.select("c_custkey")
        .distinct()
        .join(c.select("c_custkey"), on="c_custkey", how="left_anti")
        .count()
    )
    scale = 0.5
    noised = add_noises_to(c, ["c_acctbal"], noise="uniform", scale=scale, seed=7)
    delta = (
        noised.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v"))
        .join(c.select("c_custkey", F.col("c_acctbal").alias("v0")),
              F.col("k") == F.col("c_custkey"))
        .agg(F.max(F.abs(F.col("v") - F.col("v0"))).alias("mx"))
        .collect()[0]["mx"]
    )
    row = (
        int(n_aug >= n),
        int(n_aug <= 2 * n),
        int(keys_extra == 0),
        int(delta <= scale + 1e-9),
    )
    return spark.createDataFrame(
        [row],
        "grew_ok int, bounded_ok int, keys_subset_ok int, noise_bounded_ok int",
    )


@query(
    "data_assistant_profile",
    oracle="""
    SELECT * FROM (VALUES
      ('k', 'id_like'), ('c1', 'constant'), ('m', 'high_missingness'),
      ('sk', 'id_like'), ('sk', 'skewed')) AS t(col_name, issue)
    """,
)
def data_assistant_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic per-column advisor (data_assistant,
    gofast/dataops/quality.py:1258) pinned on a constructed frame whose
    issue margins are far from every threshold (unique key, constant,
    50% missing, eighth-power skew) — deterministic under the HLL
    distinct sketch, independent of testdata regeneration."""
    from gofast_spark.quality import data_assistant

    df = (
        spark.range(1000)
        .withColumn("k", F.col("id").cast("double"))
        .withColumn("c1", F.lit(7))
        .withColumn(
            "m", F.when(F.col("id") % 2 == 0, F.col("id").cast("double"))
        )
        .withColumn("sk", F.pow(F.col("id").cast("double") / 1000.0, 8.0))
    )
    out = data_assistant(df)
    return out.where(F.col("column") != "id").select(
        F.col("column").alias("col_name"), "issue"
    )


@query(
    "robust_scale_acctbal",
    oracle="""
    WITH s AS (
      SELECT quantile_cont(c_acctbal, 0.5) AS md,
             quantile_cont(c_acctbal, 0.75)
               - quantile_cont(c_acctbal, 0.25) AS iq
      FROM customer)
    SELECT c_custkey,
           CAST(round((c_acctbal - md) / (CASE WHEN iq = 0 THEN 1 ELSE iq END), 6)
             AS DOUBLE) AS acctbal_robust
    FROM customer CROSS JOIN s
    """,
)
def robust_scale_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling (quality/scaling.py robust_scale,
    sklearn RobustScaler semantics): exact percentile aggregates in one
    pass, lazy projection — outlier-insensitive normalization verified
    against DuckDB's quantile_cont (both linear-interpolation exact)."""
    from gofast_spark.quality.scaling import robust_scale

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = robust_scale(c, ["c_acctbal"], suffix="_robust")
    return out.select(
        "c_custkey",
        F.round("c_acctbal_robust", 6).cast("double").alias("acctbal_robust"),
    )


@query(
    "record_linkage_parts",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             trim(regexp_replace(regexp_replace(lower(p_name),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nm
      FROM part),
    pb AS (
      SELECT p_partkey, nm,
             split_part(nm, ' ', 1) || '|' || split_part(nm, ' ', 2) AS blk
      FROM p),
    pairs AS (
      SELECT levenshtein(a.nm, b.nm) AS dist
      FROM pb a JOIN pb b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.nm, b.nm) <= 3)
    SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY dist
    """,
)
def record_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (operators/linkage.py): two-token
    blocking bounds candidates to within-block equi-join pairs, then
    JVM-side Levenshtein scores each — the distributed Fellegi-Sunter
    candidate stage.  Output: matched-pair counts per edit distance."""
    from gofast_spark.operators.linkage import blocked_levenshtein_pairs

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = blocked_levenshtein_pairs(
        p, "p_partkey", "p_name", block_tokens=2, max_dist=3
    )
    return pairs.groupBy(F.col("dist").cast("int").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "robust_scale_grouped_events",
    oracle="""
    WITH s AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS md,
             quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iq
      FROM events GROUP BY event_type)
    SELECT e.event_id,
           CAST(round((e.value - s.md)
                / (CASE WHEN s.iq = 0 THEN 1 ELSE s.iq END), 6) AS DOUBLE)
             AS value_robust
    FROM events e JOIN s USING (event_type)
    """,
)
def robust_scale_grouped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment robust scaling (quality/scaling.py
    robust_scale_grouped): every event value normalized against ITS
    event type's median/IQR — one grouped percentile aggregate plus a
    broadcast stats join; the group list never reaches the driver."""
    from gofast_spark.quality.scaling import robust_scale_grouped

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = robust_scale_grouped(
        e, ["value"], ["event_type"], suffix="_robust"
    )
    return out.select(
        "event_id",
        F.round("value_robust", 6).cast("double").alias("value_robust"),
    )


@query(
    "benford_profile_acctbal",
    oracle="""
    WITH v AS (
      SELECT abs(c_acctbal) AS a FROM customer
      WHERE c_acctbal IS NOT NULL AND abs(c_acctbal) > 0),
    d AS (
      SELECT CAST(floor(a / pow(10, floor(log10(a)))) AS INT) AS digit
      FROM v),
    obs AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(round(n * 1.0 / total, 6) AS DOUBLE) AS observed,
           CAST(round(log10(1.0 + 1.0 / digit), 6) AS DOUBLE) AS expected,
           CAST(round(pow(n - total * log10(1.0 + 1.0 / digit), 2)
                      / (total * log10(1.0 + 1.0 / digit)), 4) AS DOUBLE)
             AS chi2_term
    FROM obs, tot
    """,
)
def benford_profile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of account balances
    (quality/audit.py benford_profile; Benford 1938 / Nigrini's
    auditing use).  The engine extracts the digit from the canonical
    string form (no per-row log); the oracle extracts it NUMERICALLY
    via floor(a / 10^floor(log10 a)) — two independent definitions of
    'first significant digit' agreeing bit-for-bit, then one 9-group
    aggregate."""
    from gofast_spark.quality import benford_profile

    c = _t(spark, sf_dir, "customer")
    out = benford_profile(c, "c_acctbal")
    return out.select(
        "digit",
        "n",
        F.round("observed", 6).cast("double").alias("observed"),
        F.round("expected", 6).cast("double").alias("expected"),
        F.round("chi2_term", 4).cast("double").alias("chi2_term"),
    )


@query(
    "observed_report_lineitem",
    oracle="""
    SELECT 'l_discount' AS "column", count(*) AS n_rows,
           CAST(sum(CAST(l_discount IS NULL AS BIGINT))
                AS BIGINT) AS n_nulls,
           CAST((1000000 * sum(CAST(l_discount IS NULL AS BIGINT)))
                // count(*) AS BIGINT) AS null_ppm,
           CAST(floor(min(l_discount) * 1000000 + 0.5) AS BIGINT) AS min_u6,
           CAST(floor(max(l_discount) * 1000000 + 0.5) AS BIGINT) AS max_u6
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*),
           CAST(sum(CAST(l_quantity IS NULL AS BIGINT)) AS BIGINT),
           CAST((1000000 * sum(CAST(l_quantity IS NULL AS BIGINT)))
                // count(*) AS BIGINT),
           CAST(floor(min(l_quantity) * 1000000 + 0.5) AS BIGINT),
           CAST(floor(max(l_quantity) * 1000000 + 0.5) AS BIGINT)
    FROM lineitem
    """,
)
def observed_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer quality report over lineitem (quality/observe.py;
    SURVEY §7.3.3 — the reference recomputes every ``(df, report)``
    tuple eagerly, gofast/dataops/quality.py:98-325; here the report is
    one relational aggregate + ``stack`` unpivot).

    Driver-red history, RESOLVED round 12.  Five rounds of hash-only
    red (values identical locally every round) traced through three
    falsified theories (LocalRelation literals r10, Observation side
    effects r11, stale per-name driver state r11 — the same-SQL twin
    below was the discriminating experiment) to the actual root
    cause: the oracle's bare ``sum(CAST(x IS NULL AS BIGINT))`` made
    DuckDB return HUGEINT, which surfaces through Arrow as
    decimal128(38,0) against Spark's bigint — the only int-vs-decimal
    skew among all oracles, masked locally by Python's
    ``Decimal(0) == 0`` equality.  Both oracles now CAST the sum back
    to BIGINT, and ``tests/oracle_util.compare`` checks every entry's
    type classes so the class can never pass the local gate again.  The
    entry stays a PURE plan (no Observation/write/collect); the
    zero-extra-scan observation's equivalence to this relational
    truth is certified by ``tests/test_hardening_r10.py
    test_quality_relational_matches_observed``."""
    from gofast_spark.quality.observe import quality_report_relational

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_discount")
    return quality_report_relational(li, ["l_discount", "l_quantity"])


@query(
    "quality_report_relational_lineitem",
    oracle="""
    SELECT 'l_discount' AS "column", count(*) AS n_rows,
           CAST(sum(CAST(l_discount IS NULL AS BIGINT))
                AS BIGINT) AS n_nulls,
           CAST((1000000 * sum(CAST(l_discount IS NULL AS BIGINT)))
                // count(*) AS BIGINT) AS null_ppm,
           CAST(floor(min(l_discount) * 1000000 + 0.5) AS BIGINT) AS min_u6,
           CAST(floor(max(l_discount) * 1000000 + 0.5) AS BIGINT) AS max_u6
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*),
           CAST(sum(CAST(l_quantity IS NULL AS BIGINT)) AS BIGINT),
           CAST((1000000 * sum(CAST(l_quantity IS NULL AS BIGINT)))
                // count(*) AS BIGINT),
           CAST(floor(min(l_quantity) * 1000000 + 0.5) AS BIGINT),
           CAST(floor(max(l_quantity) * 1000000 + 0.5) AS BIGINT)
    FROM lineitem
    """,
)
def quality_report_relational_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same-SQL new-name twin of ``observed_report_lineitem``,
    retained from the r11 isolation experiment: byte-identical Spark
    plan and oracle under a fresh name.  BOTH going red in r11 was
    the result that eliminated the per-name-state and side-effect
    theories and pointed at the shared oracle TEXT — where the
    HUGEINT-vs-bigint type skew was then found (see the twin's
    docstring; fixed round 12 with an outer CAST in both)."""
    from gofast_spark.quality.observe import quality_report_relational

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_discount")
    return quality_report_relational(li, ["l_discount", "l_quantity"])


@query(
    "psi_drift_orders",
    oracle="""
    WITH ref AS (
      SELECT least(greatest(CAST(floor(CAST(o_totalprice AS DOUBLE)
                / 60000.0) AS INT), 0), 9) AS bin
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate < TIMESTAMP '1998-01-01'),
    cur AS (
      SELECT least(greatest(CAST(floor(CAST(o_totalprice AS DOUBLE)
                / 60000.0) AS INT), 0), 9) AS bin
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate >= TIMESTAMP '1998-01-01'),
    g AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    a AS (SELECT bin, count(*) AS n_ref FROM ref GROUP BY bin),
    b AS (SELECT bin, count(*) AS n_cur FROM cur GROUP BY bin),
    j AS (
      SELECT g.bin, coalesce(a.n_ref, 0) AS n_ref,
             coalesce(b.n_cur, 0) AS n_cur
      FROM g LEFT JOIN a ON a.bin = g.bin LEFT JOIN b ON b.bin = g.bin),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
    SELECT CAST(round(sum(
             ((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
             * ln(((n_ref + 0.5) / (tr + 5.0))
                  / ((n_cur + 0.5) / (tc + 5.0)))), 6) AS DOUBLE) AS psi,
           CAST(max(tr) AS BIGINT) AS n_ref,
           CAST(max(tc) AS BIGINT) AS n_cur
    FROM j, t
    """,
)
def psi_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check (quality/drift.py
    psi_report; the production monitoring staple the reference keeps in
    gofast/mlops/): order-value distribution before vs from 1998 over
    a declared 10-bin grid — one bins-sized groupBy per side, Laplace
    -smoothed shares, PSI as one aggregate.  The oracle recomputes the
    identical smoothed-share algebra."""
    from gofast_spark.quality.drift import psi_report

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    ref = o.where(F.col("o_orderdate") < "1998-01-01")
    cur = o.where(F.col("o_orderdate") >= "1998-01-01")
    out = psi_report(ref, cur, "o_totalprice", lo=0.0, hi=600000.0,
                     bins=10, smooth=0.5)
    return out.select(
        F.round("psi", 6).cast("double").alias("psi"), "n_ref", "n_cur"
    )


@query(
    "psi_by_source_documents",
    oracle="""
    WITH cnt AS (
      SELECT source AS grp,
             least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 60.0)
                   AS INT), 0), 9) AS bin,
             count(*) AS n
      FROM documents
      WHERE n_chars IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    grid AS (
      SELECT g.grp, s.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT grp FROM cnt) g
      CROSS JOIN spine s
      LEFT JOIN cnt c ON c.grp = g.grp AND c.bin = s.bin),
    m AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY grp) AS n_g,
             sum(n) OVER (PARTITION BY bin) - n AS rest_b,
             sum(n) OVER () - sum(n) OVER (PARTITION BY grp) AS rest_t
      FROM grid)
    SELECT grp AS "group",
           CAST(max(n_g) AS BIGINT) AS n_group,
           CAST(max(rest_t) AS BIGINT) AS n_rest,
           CAST(sum(CAST(floor(
             ((n + 0.5) / (n_g + 5.0) - (rest_b + 0.5) / (rest_t + 5.0))
             * ln(((n + 0.5) / (n_g + 5.0))
                  / ((rest_b + 0.5) / (rest_t + 5.0)))
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_u6
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def psi_by_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source drift report (quality/drift.py psi_by_group; the
    r10 verdict's named breadth pull): for every ingest source, the
    PSI of the document-length distribution against the REST of the
    corpus — "which source shifted?" from ONE scan via a dense
    source x bin grid and window margins, never a per-source pass.
    Summands quantized to micro-units before the integer sum (the
    transcendental-sum discipline), replayed verbatim by the
    oracle."""
    from gofast_spark.quality.drift import psi_by_group

    d = _t(spark, sf_dir, "documents").select("source", "n_chars")
    return psi_by_group(
        d, "source", "n_chars", lo=0.0, hi=600.0, bins=10, smooth=0.5
    )


@query(
    "ks_drift_by_type_events",
    oracle="""
    WITH cnt AS (
      SELECT event_type AS grp,
             least(greatest(CAST(floor(CAST(value AS DOUBLE) / 5.0)
                   AS INT), 0), 99) AS bin,
             count(*) AS n
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(100)),
    grid AS (
      SELECT g.grp, s.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT grp FROM cnt) g
      CROSS JOIN spine s
      LEFT JOIN cnt c ON c.grp = g.grp AND c.bin = s.bin),
    mg AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY bin) AS tot_b,
             sum(n) OVER (PARTITION BY grp) AS n_g,
             sum(n) OVER () AS n_all
      FROM grid),
    m AS (
      SELECT grp, n_g, n_all,
             sum(n) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
             sum(tot_b) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      FROM mg)
    SELECT grp AS "group",
           CAST(max(n_g) AS BIGINT) AS n_group,
           CAST(max(n_all) - max(n_g) AS BIGINT) AS n_rest,
           max(CAST(floor(abs(
             CAST(cum_g AS DOUBLE) / CAST(n_g AS DOUBLE)
             - CAST(cum_all - cum_g AS DOUBLE)
               / CAST(n_all - n_g AS DOUBLE)) * 1000000 + 0.5)
             AS BIGINT)) AS ks_u6
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def ks_drift_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group two-sample KS drift statistic (quality/drift.py
    ks_by_group): for every event type, D = max |ECDF_type -
    ECDF_rest| over a declared 100-bin grid — the scale-safe KS (no
    per-group sort of raw values), group-vs-rest from one scan via
    cumulative windows.  Pure integer counts and single divisions;
    micro-unit presentation."""
    from gofast_spark.quality.drift import ks_by_group

    e = _t(spark, sf_dir, "events").select("event_type", "value")
    return ks_by_group(
        e, "event_type", "value", lo=0.0, hi=500.0, bins=100
    )


@query(
    "diversity_nations_by_segment",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS segment, c_nationkey AS cc, count(*) AS n
      FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1, 2),
    per AS (
      SELECT segment, count(*) AS richness, sum(n) AS nn,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                            * 1e6 + 0.5) AS BIGINT)) AS snln,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS sp,
             sum(CAST(n AS HUGEINT) * n) AS sq
      FROM c GROUP BY 1)
    SELECT segment,
           CAST(richness AS BIGINT) AS richness,
           CAST(nn AS BIGINT) AS n,
           CAST(floor((ln(CAST(nn AS DOUBLE))
             - CAST(snln AS DOUBLE) / 1e6 / CAST(nn AS DOUBLE))
             * 1e6 + 0.5) AS BIGINT) AS shannon_u6,
           CAST(floor(exp(ln(CAST(nn AS DOUBLE))
             - CAST(snln AS DOUBLE) / 1e6 / CAST(nn AS DOUBLE))
             * 1e6 + 0.5) AS BIGINT) AS effective_categories_u6,
           CAST(sp AS DOUBLE)
             / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
             AS simpson,
           CAST(sq AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
             AS hhi
    FROM per
    """,
)
def diversity_nations_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment nation-mix diversity (stats/descriptive.py
    diversity_indices; Shannon 1948, Simpson 1949, Herfindahl-
    Hirschman): richness, Shannon entropy + Hill-number effective
    count, unbiased Simpson, and HHI concentration — two hash
    aggregates, exact-integer reductions throughout.  Shannon/Hill
    present as micro-unit integers: the inner n·ln(n) sum is already
    integer-exact on both sides, but the FINAL ln/exp go through JVM
    Math vs DuckDB libm, which disagree by 1 ulp on some arguments
    (observed at sf0.01) — quantization absorbs transcendental ulp
    noise; simpson/hhi are exact integer ratios and stay raw."""
    from gofast_spark.stats.descriptive import diversity_indices

    out = diversity_indices(
        _t(spark, sf_dir, "customer"), "c_mktsegment", "c_nationkey"
    )
    return out.select(
        F.col("g").alias("segment"),
        "richness",
        "n",
        F.floor(F.col("shannon") * 1e6 + 0.5)
        .cast("bigint")
        .alias("shannon_u6"),
        F.floor(F.col("effective_categories") * 1e6 + 0.5)
        .cast("bigint")
        .alias("effective_categories_u6"),
        "simpson",
        "hhi",
    )


@query(
    "theil_inequality_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS x FROM customer
      WHERE c_acctbal IS NOT NULL AND c_acctbal > 0),
    a AS (
      SELECT count(*) AS n,
             sum(CAST(floor(x * 1e2 + 0.5) AS HUGEINT)) AS sx,
             sum(CAST(floor(x * ln(x) * 1e6 + 0.5) AS HUGEINT)) AS sxlx,
             sum(CAST(floor(ln(x) * 1e9 + 0.5) AS HUGEINT)) AS slx
      FROM d),
    m AS (
      SELECT n, CAST(sx AS DOUBLE) / 1e2 / CAST(n AS DOUBLE) AS mu,
             sxlx, slx
      FROM a)
    SELECT CAST(n AS BIGINT) AS n,
           mu AS mean,
           CAST(sxlx AS DOUBLE) / 1e6 / (CAST(n AS DOUBLE) * mu) - ln(mu)
             AS theil_t,
           ln(mu) - CAST(slx AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)
             AS theil_l
    FROM m
    """,
)
def theil_inequality_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L inequality of positive account balances
    (stats/descriptive.py theil_indices; Theil 1967 GE(1)/GE(0)) —
    ONE exact-integer aggregate, the entropy-decomposable companion to
    `gini_acctbal`."""
    from gofast_spark.stats.descriptive import theil_indices

    return theil_indices(_t(spark, sf_dir, "customer"), "c_acctbal")


@query(
    "lorenz_points_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS x FROM customer
      WHERE c_acctbal IS NOT NULL AND c_acctbal >= 0),
    b AS (SELECT x, ntile(10) OVER (ORDER BY x) AS bucket FROM d),
    per AS (
      SELECT bucket, count(*) AS n,
             sum(CAST(floor(x * 1e2 + 0.5) AS HUGEINT)) AS s
      FROM b GROUP BY 1),
    t AS (SELECT sum(n) AS tn, sum(s) AS ts FROM per)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(n AS BIGINT) AS n,
           CAST(sum(n) OVER wc AS DOUBLE) / CAST(tn AS DOUBLE)
             AS pop_share,
           CAST(sum(s) OVER wc AS DOUBLE) / CAST(ts AS DOUBLE)
             AS value_share
    FROM per, t
    WINDOW wc AS (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def lorenz_points_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile points of non-negative account balances
    (stats/descriptive.py lorenz_points; Lorenz 1905): the exact-ntile
    oracle path (engine-parity ceil-division buckets; tied values never
    change bucket sums), cumulative population vs value share — the
    curve `gini_acctbal` integrates.  The sketch path is the 100-TB
    default and is unit-tested."""
    from gofast_spark.stats.descriptive import lorenz_points

    out = lorenz_points(
        _t(spark, sf_dir, "customer"), "c_acctbal",
        buckets=10, mode="exact",
    )
    return out.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n", "pop_share", "value_share",
    )


@query(
    "grubbs_test_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e2 + 0.5) AS BIGINT)
               AS xu
      FROM customer WHERE c_acctbal IS NOT NULL),
    st AS (
      SELECT count(*) AS n, sum(CAST(xu AS HUGEINT)) AS s,
             sum(CAST(xu AS HUGEINT) * xu) AS ss
      FROM d),
    m AS (
      SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             sqrt(CAST(n * ss - s * s AS DOUBLE)
                  / CAST(n * (n - 1) AS DOUBLE)) AS sd_u
      FROM st),
    dev AS (
      SELECT xu, n, mu, sd_u,
             CAST(floor(abs(CAST(xu AS DOUBLE) - mu) * 1e4 + 0.5)
               AS BIGINT) AS dev_u
      FROM d, m),
    mx AS (SELECT n, mu, sd_u, max(dev_u) AS dmax FROM dev
           GROUP BY 1, 2, 3),
    o AS (
      SELECT mx.n, mx.mu, mx.sd_u, mx.dmax, max(d2.xu) AS oxu
      FROM dev d2, mx WHERE d2.dev_u = mx.dmax
      GROUP BY 1, 2, 3, 4)
    SELECT CAST(dmax AS DOUBLE) / 1e4 / sd_u AS g_stat,
           CAST(oxu AS DOUBLE) / 1e2 AS outlier,
           mu / 1e2 AS mean,
           sd_u / 1e2 AS sd,
           CAST(n AS BIGINT) AS n
    FROM o
    """,
)
def grubbs_test_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs maximum-normed-residual outlier statistic on account
    balances (stats/inferential.py grubbs_test; Grubbs 1950) —
    exact centi-unit moments, order-free integer max deviation,
    larger-value tie-break."""
    from gofast_spark.stats.inferential import grubbs_test

    return grubbs_test(_t(spark, sf_dir, "customer"), "c_acctbal")


@query(
    "mahalanobis_outliers_lineitem",
    oracle="""
    WITH d AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(CAST(l_quantity AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS xu,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS yu
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    m AS (
      SELECT count(*) AS n,
             sum(CAST(xu AS HUGEINT)) AS sx, sum(CAST(yu AS HUGEINT)) AS sy,
             sum(CAST(xu AS HUGEINT) * xu) AS sxx,
             sum(CAST(yu AS HUGEINT) * yu) AS syy,
             sum(CAST(xu AS HUGEINT) * yu) AS sxy
      FROM d),
    s AS (
      SELECT n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
             CAST(n * sxx - sx * sx AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) AS vx,
             CAST(n * syy - sy * sy AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) AS vy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) AS cxy
      FROM m),
    sc AS (
      SELECT l_orderkey, l_linenumber,
             round(((CAST(xu AS DOUBLE) - mx) * (CAST(xu AS DOUBLE) - mx)
                      * vy
                    - 2.0 * (CAST(xu AS DOUBLE) - mx)
                      * (CAST(yu AS DOUBLE) - my) * cxy
                    + (CAST(yu AS DOUBLE) - my) * (CAST(yu AS DOUBLE) - my)
                      * vx)
                   / (vx * vy - cxy * cxy), 6) AS md2
      FROM d, s)
    SELECT l_orderkey, l_linenumber, CAST(md2 AS DOUBLE) AS md2
    FROM sc ORDER BY md2 DESC, l_orderkey, l_linenumber LIMIT 20
    """,
)
def mahalanobis_outliers_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 (quantity, price) multivariate outliers by squared
    Mahalanobis distance (quality/outliers.py mahalanobis_outliers_2d;
    Mahalanobis 1936): exact-integer moment aggregate, closed-form 2x2
    inverse, TakeOrderedAndProject on the rounded score."""
    from gofast_spark.quality.outliers import mahalanobis_outliers_2d

    return mahalanobis_outliers_2d(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice",
        ["l_orderkey", "l_linenumber"], top_k=20,
    )


@query(
    "winsorize_acctbal",
    oracle="""
    WITH x AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS x FROM customer
      WHERE c_acctbal IS NOT NULL),
    cuts AS (
      SELECT quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
      FROM x),
    w AS (
      SELECT CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END
               AS wx,
             x, lo, hi
      FROM x, cuts)
    SELECT CAST(count(*) AS BIGINT) AS n,
           any_value(lo) AS lo_cut, any_value(hi) AS hi_cut,
           CAST(sum(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo,
           CAST(sum(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi,
           CAST(sum(CAST(floor(wx * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e6 AS mean_after
    FROM w
    """,
)
def winsorize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization readout at the 5th/95th percentiles
    (quality/outliers.py winsorize_column; Dixon & Tukey 1968) — the
    clamp sibling of `outliers_iqr_clip_acctbal`; exact-percentile
    oracle path, sketch path above the row threshold."""
    from gofast_spark.quality.outliers import winsorize_column

    c = _t(spark, sf_dir, "customer").where(
        F.col("c_acctbal").isNotNull()
    ).select(F.col("c_acctbal").cast("double").alias("x"))
    cuts = c.agg(
        F.percentile(F.col("x"), 0.05).alias("lo"),
        F.percentile(F.col("x"), 0.95).alias("hi"),
    )
    w = winsorize_column(c, "x", mode="exact", out_col="wx")
    return (
        w.crossJoin(F.broadcast(cuts)).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.first("lo").alias("lo_cut"),
            F.first("hi").alias("hi_cut"),
            F.sum(F.when(F.col("x") < F.col("lo"), 1).otherwise(0))
            .cast("bigint").alias("n_lo"),
            F.sum(F.when(F.col("x") > F.col("hi"), 1).otherwise(0))
            .cast("bigint").alias("n_hi"),
            (F.sum(F.floor(F.col("wx") * F.lit(1e6) + F.lit(0.5))
                   .cast("decimal(38,0)")).cast("double")
             / F.count(F.lit(1)).cast("double") / F.lit(1e6))
            .alias("mean_after"),
        )
    )


@query(
    "k_anonymity_customer",
    oracle="""
    WITH per AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n,
             count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE)
               / 1000.0) AS BIGINT)) AS l
      FROM customer GROUP BY 1, 2)
    SELECT CAST(5 AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(min(n) AS BIGINT) AS anonymity_level,
           CAST(min(l) AS BIGINT) AS l_diversity_min
    FROM per
    """,
)
def k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of customers under the
    (nation, segment) quasi-identifier with bucketed balance as the
    sensitive attribute (quality/audit.py k_anonymity_report; Sweeney
    2002, Machanavajjhala 2007) — the pre-release re-identification
    readout beside `pii_redact_contacts` and `anonymize_customer_names`."""
    from gofast_spark.quality.audit import k_anonymity_report

    c = _t(spark, sf_dir, "customer").withColumn(
        "acct_bucket",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("bigint"),
    )
    return k_anonymity_report(
        c, ["c_nationkey", "c_mktsegment"], k=5,
        sensitive_col="acct_bucket",
    )


@query(
    "hbos_outliers_lineitem",
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS x0,
             CAST(l_extendedprice AS DOUBLE) AS x1
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    r AS (
      SELECT count(*) AS n, min(x0) AS lo0, max(x0) AS hi0,
             min(x1) AS lo1, max(x1) AS hi1
      FROM base),
    b AS (
      SELECT l_orderkey, l_linenumber, n,
             least(greatest(CAST(floor((x0 - lo0)
               / ((hi0 - lo0) / 10.0)) AS INTEGER), 0), 9) AS b0,
             least(greatest(CAST(floor((x1 - lo1)
               / ((hi1 - lo1) / 10.0)) AS INTEGER), 0), 9) AS b1
      FROM base, r),
    h0 AS (
      SELECT b0,
             CAST(floor(-ln(CAST(count(*) AS DOUBLE)
               / CAST(any_value(n) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS s0
      FROM b GROUP BY b0),
    h1 AS (
      SELECT b1,
             CAST(floor(-ln(CAST(count(*) AS DOUBLE)
               / CAST(any_value(n) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS s1
      FROM b GROUP BY b1),
    sc AS (
      SELECT l_orderkey, l_linenumber, s0 + s1 AS st
      FROM b JOIN h0 USING (b0) JOIN h1 USING (b1))
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(st AS DOUBLE) / 1e6, 6) AS DOUBLE) AS hbos
    FROM sc ORDER BY hbos DESC, l_orderkey, l_linenumber LIMIT 20
    """,
)
def hbos_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 histogram-based outlier scores over (quantity, price)
    (quality/outliers.py hbos_scores; Goldstein & Dengel 2012) — the
    linear-time unsupervised detector beside the Mahalanobis entry:
    bins-sized histograms, broadcast joins, micro-unit-exact score
    sums."""
    from gofast_spark.quality.outliers import hbos_scores

    return hbos_scores(
        _t(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice"],
        ["l_orderkey", "l_linenumber"], bins=10, top_k=20,
    )


@query(
    "trimmed_mean_acctbal",
    oracle="""
    WITH x AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS x FROM customer
      WHERE c_acctbal IS NOT NULL),
    cuts AS (
      SELECT quantile_cont(x, 0.1) AS lo, quantile_cont(x, 0.9) AS hi,
             count(*) AS nt
      FROM x),
    k AS (SELECT x, lo, hi, nt FROM x, cuts
          WHERE x >= lo AND x <= hi)
    SELECT CAST(sum(CAST(floor(x * 1e2 + 0.5) AS HUGEINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e2 AS trimmed_mean,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(any_value(nt) AS BIGINT) AS n_total,
           any_value(lo) AS lo_cut, any_value(hi) AS hi_cut
    FROM k
    """,
)
def trimmed_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of account balances
    (stats/descriptive.py trimmed_mean; Tukey & McLaughlin 1963) — the
    exclude sibling of `winsorize_acctbal`, exact cuts on the oracle
    path, sketch above the row threshold."""
    from gofast_spark.stats.descriptive import trimmed_mean

    return trimmed_mean(
        _t(spark, sf_dir, "customer"), "c_acctbal",
        p_lo=0.1, p_hi=0.9, mode="exact",
    )


@query(
    "gini_by_segment_customer",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment AS segment, c_acctbal AS x,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal) AS i
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL)
    SELECT segment,
           CAST(round(2.0 * sum(i * x) / (count(*) * sum(x))
                - (count(*) + 1.0) / count(*), 6) AS DOUBLE) AS gini,
           count(*) AS n
    FROM r GROUP BY segment ORDER BY segment
    """,
)
def gini_by_segment_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficients of account balance
    (stats/descriptive.py gini_coeff_grouped; ref gini_coeffs,
    gofast/stats/descriptive.py:51 sorts one raw array driver-side):
    the distinct-value rank identity with segment-partitioned windows
    — every segment's inequality measure from one scan, ordered
    windows over distinct values only.  The oracle uses the naive
    raw-rank formula per segment, certifying the reduced formulation
    group-by-group."""
    from gofast_spark.stats.descriptive import gini_coeff_grouped

    c = _t(spark, sf_dir, "customer")
    out = gini_coeff_grouped(c, "c_acctbal", "c_mktsegment")
    return out.select(
        F.col("group").alias("segment"),
        F.round("gini", 6).cast("double").alias("gini"),
        "n",
    )


@query(
    "psi_daily_events",
    oracle="""
    WITH cnt AS (
      SELECT CAST(ts AS DATE) AS grp,
             least(greatest(CAST(floor(CAST(value AS DOUBLE) / 50.0)
                   AS INT), 0), 9) AS bin,
             count(*) AS n
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    grid AS (
      SELECT g.grp, s.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT grp FROM cnt) g
      CROSS JOIN spine s
      LEFT JOIN cnt c ON c.grp = g.grp AND c.bin = s.bin),
    m AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY grp) AS n_g,
             sum(n) OVER (PARTITION BY bin) - n AS rest_b,
             sum(n) OVER () - sum(n) OVER (PARTITION BY grp) AS rest_t
      FROM grid)
    SELECT grp AS "group",
           CAST(max(n_g) AS BIGINT) AS n_group,
           CAST(max(rest_t) AS BIGINT) AS n_rest,
           CAST(sum(CAST(floor(
             ((n + 0.5) / (n_g + 5.0) - (rest_b + 0.5) / (rest_t + 5.0))
             * ln(((n + 0.5) / (n_g + 5.0))
                  / ((rest_b + 0.5) / (rest_t + 5.0)))
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_u6
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def psi_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-over-time report (quality/drift.py psi_by_group with the
    calendar day as the group): each day's event-value distribution
    PSI'd against every other day pooled — the "when did the data
    change?" readout next to psi_by_source's "which source changed?",
    same one-scan dense-grid machinery."""
    from gofast_spark.quality.drift import psi_by_group

    e = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    ).select(F.col("ts").cast("date").alias("day"), "value")
    return psi_by_group(
        e, "day", "value", lo=0.0, hi=500.0, bins=10, smooth=0.5
    )


@query(
    "wasserstein_drift_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    per_v AS (
      SELECT v,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS c_b
      FROM d GROUP BY 1),
    cum AS (
      SELECT v,
             sum(c_a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS ca,
             sum(c_b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cb,
             sum(c_a) OVER () AS na, sum(c_b) OVER () AS nb,
             lead(v) OVER (ORDER BY v) AS vn
      FROM per_v),
    t AS (
      SELECT na, nb,
             CAST(floor(CAST(abs(ca * nb - cb * na) AS DOUBLE)
                        * (vn - v)
                        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tq
      FROM cum WHERE vn IS NOT NULL)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(sum(tq) AS BIGINT) AS w1_u9
    FROM t GROUP BY 1, 2
    """,
)
def wasserstein_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein distance between click and purchase value
    distributions (quality/drift.py wasserstein_1d; Vallender 1974) —
    the metric-aware drift measure beside PSI/KS/JSD: ECDF gaps
    carried as exact integers over the merged distinct-value table,
    segment terms u9-quantized."""
    from gofast_spark.quality.drift import wasserstein_1d

    e = _t(spark, sf_dir, "events")
    return wasserstein_1d(e, "value", "event_type", "click", "purchase")


@query(
    "kl_jsd_by_type_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    s AS (SELECT min(v) AS lo, max(v) AS hi FROM d),
    binned AS (
      SELECT g,
             least(greatest(CAST(floor((v - lo)
               / ((CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END)
                  / 20.0)) AS INT), 0), 19) AS b
      FROM d, s),
    per_b AS (
      SELECT b,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS c_b
      FROM binned GROUP BY 1),
    grid AS (SELECT unnest(range(20)) AS b),
    cells AS (
      SELECT grid.b,
             coalesce(per_b.c_a, 0) AS c_a,
             coalesce(per_b.c_b, 0) AS c_b
      FROM grid LEFT JOIN per_b ON grid.b = per_b.b),
    w AS (
      SELECT b, c_a, c_b,
             sum(c_a) OVER () AS na, sum(c_b) OVER () AS nb
      FROM cells),
    terms AS (
      SELECT na, nb,
             CAST(floor(((CAST(c_a AS DOUBLE) + 1.0)
                         / (CAST(na AS DOUBLE) + 20.0))
                        * ln(((CAST(c_a AS DOUBLE) + 1.0)
                              / (CAST(na AS DOUBLE) + 20.0))
                             / ((CAST(c_b AS DOUBLE) + 1.0)
                                / (CAST(nb AS DOUBLE) + 20.0)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS t_ab,
             CAST(floor(((CAST(c_b AS DOUBLE) + 1.0)
                         / (CAST(nb AS DOUBLE) + 20.0))
                        * ln(((CAST(c_b AS DOUBLE) + 1.0)
                              / (CAST(nb AS DOUBLE) + 20.0))
                             / ((CAST(c_a AS DOUBLE) + 1.0)
                                / (CAST(na AS DOUBLE) + 20.0)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS t_ba,
             CAST(floor((0.5 * (((CAST(c_a AS DOUBLE) + 1.0)
                                 / (CAST(na AS DOUBLE) + 20.0))
                                * ln(((CAST(c_a AS DOUBLE) + 1.0)
                                      / (CAST(na AS DOUBLE) + 20.0))
                                     / ((((CAST(c_a AS DOUBLE) + 1.0)
                                          / (CAST(na AS DOUBLE) + 20.0))
                                         + ((CAST(c_b AS DOUBLE) + 1.0)
                                            / (CAST(nb AS DOUBLE)
                                               + 20.0))) / 2.0)))
                         + 0.5 * (((CAST(c_b AS DOUBLE) + 1.0)
                                   / (CAST(nb AS DOUBLE) + 20.0))
                                  * ln(((CAST(c_b AS DOUBLE) + 1.0)
                                        / (CAST(nb AS DOUBLE) + 20.0))
                                       / ((((CAST(c_a AS DOUBLE) + 1.0)
                                            / (CAST(na AS DOUBLE)
                                               + 20.0))
                                           + ((CAST(c_b AS DOUBLE) + 1.0)
                                              / (CAST(nb AS DOUBLE)
                                                 + 20.0))) / 2.0))))
                        * 1000000000.0 + 0.5) AS BIGINT) AS t_js
      FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(20 AS INT) AS bins,
           CAST(sum(t_ab) AS BIGINT) AS kl_ab_u9,
           CAST(sum(t_ba) AS BIGINT) AS kl_ba_u9,
           CAST(sum(t_js) AS BIGINT) AS jsd_u9
    FROM terms GROUP BY 1, 2
    """,
)
def kl_jsd_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kullback-Leibler (both directions) and Jensen-Shannon
    divergences between click and purchase value distributions
    (quality/drift.py kl_jsd_binned; Kullback & Leibler 1951, Lin
    1991; reference gofast/stats/evaluation.py:1198-1215
    DistributionComparison) — Laplace-smoothed 20-bin histograms on
    deterministic min/max edges, u9-quantized summands."""
    from gofast_spark.quality.drift import kl_jsd_binned

    e = _t(spark, sf_dir, "events")
    return kl_jsd_binned(
        e, "value", "event_type", "click", "purchase", bins=20
    )


@query(
    "hellinger_by_type_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    s AS (SELECT min(v) AS lo, max(v) AS hi FROM d),
    binned AS (
      SELECT g,
             least(greatest(CAST(floor((v - lo)
               / ((CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END)
                  / 20.0)) AS INT), 0), 19) AS b
      FROM d, s),
    per_b AS (
      SELECT b,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS c_b
      FROM binned GROUP BY 1),
    w AS (
      SELECT c_a, c_b,
             sum(c_a) OVER () AS na, sum(c_b) OVER () AS nb
      FROM per_b),
    t AS (
      SELECT na, nb,
             CAST(floor(sqrt((CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE))
                             * (CAST(c_b AS DOUBLE)
                                / CAST(nb AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tq
      FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(20 AS INT) AS bins,
           CAST(sum(tq) AS BIGINT) AS bc_u9,
           1000000000 - CAST(sum(tq) AS BIGINT) AS h2_u9
    FROM t GROUP BY 1, 2
    """,
)
def hellinger_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared Hellinger distance between click and purchase value
    distributions (quality/drift.py hellinger_binned; Hellinger 1909)
    — the bounded symmetric drift metric that needs no smoothing:
    exact rational cell probabilities on deterministic bin edges,
    sqrt(pq) u9-quantized, H^2 = unit - BC as a pure integer."""
    from gofast_spark.quality.drift import hellinger_binned

    e = _t(spark, sf_dir, "events")
    return hellinger_binned(
        e, "value", "event_type", "click", "purchase", bins=20
    )


@query(
    "wasserstein_by_source_documents",
    oracle="""
    WITH d AS (
      SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    cnt AS (SELECT v, g, count(*) AS c FROM d GROUP BY 1, 2),
    vals AS (SELECT DISTINCT v FROM d),
    grps AS (SELECT DISTINCT g FROM d),
    grid AS (SELECT vals.v, grps.g FROM vals, grps),
    cell AS (
      SELECT grid.v, grid.g, coalesce(cnt.c, 0) AS c
      FROM grid LEFT JOIN cnt ON grid.v = cnt.v AND grid.g = cnt.g),
    cum AS (
      SELECT v, g,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_g,
             sum(c) OVER (PARTITION BY v) AS cv,
             sum(c) OVER (PARTITION BY g) AS n_g,
             sum(c) OVER () AS n,
             lead(v) OVER (PARTITION BY g ORDER BY v) AS vn
      FROM cell),
    cum2 AS (
      SELECT v, g, cum_g, n_g, n, vn,
             sum(cv) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_all
      FROM cum),
    t AS (
      SELECT g, n_g,
             CAST(floor(CAST(abs(cum_g * (n - n_g)
                             - (cum_all - cum_g) * n_g) AS DOUBLE)
                        * (vn - v)
                        / (CAST(n_g AS DOUBLE)
                           * CAST(n - n_g AS DOUBLE))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tq
      FROM cum2 WHERE vn IS NOT NULL)
    SELECT g AS source, CAST(n_g AS BIGINT) AS n_group,
           CAST(sum(tq) AS BIGINT) AS w1_u9
    FROM t GROUP BY 1, 2 ORDER BY source
    """,
)
def wasserstein_by_source_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-source-out exact Wasserstein drift over document
    lengths (quality/drift.py wasserstein_by_group; Vallender 1974) —
    the metric-aware sibling of psi_by_source_documents: every
    source's earth-mover distance to the pooled rest from ONE scan
    over a dense values-by-sources grid."""
    from gofast_spark.quality.drift import wasserstein_by_group

    docs = _t(spark, sf_dir, "documents")
    return wasserstein_by_group(docs, "n_chars", "source")


@query(
    "last_digit_uniformity_orders",
    oracle="""
    WITH per AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) % 10
               AS d,
             count(*) AS o
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
    a AS (
      SELECT sum(o) AS n, sum(CAST(o AS HUGEINT) * o) AS o2,
             count(*) AS digits_seen
      FROM per)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(digits_seen AS BIGINT) AS digits_seen,
           CAST(round(CAST(10 * o2 - CAST(n AS HUGEINT) * n AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS DOUBLE) AS chi2,
           CAST(9 AS BIGINT) AS dof
    FROM a
    """,
)
def last_digit_uniformity_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-digit uniformity chi-square of order amounts in cents
    (quality/audit.py last_digit_uniformity; Nigrini's forensic
    companion of benford_profile_acctbal) — ten integer digit
    counts, one closed-form division."""
    from gofast_spark.quality.audit import last_digit_uniformity

    o = _t(spark, sf_dir, "orders")
    out = last_digit_uniformity(o, "o_totalprice")
    return out.select(
        "n", "digits_seen",
        F.round("chi2", 6).cast("double").alias("chi2"),
        "dof",
    )


@query(
    "outlier_consensus_events",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    mom AS (
      SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
             sum(CAST(x AS HUGEINT) * x) AS ss
      FROM base),
    grid AS (
      SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT x, count(*) AS c FROM base GROUP BY x)),
    qs AS (SELECT unnest(range(1, 4)) AS i),
    pj AS (
      SELECT i, ((i * n + 3) - ((i * n + 3) % 4)) / 4 AS r
      FROM qs, mom),
    emp AS (
      SELECT i, min(x) AS q FROM grid JOIN pj ON grid.cum >= pj.r
      GROUP BY i),
    qrow AS (
      SELECT max(CASE WHEN i = 1 THEN q END) AS q1,
             max(CASE WHEN i = 2 THEN q END) AS med,
             max(CASE WHEN i = 3 THEN q END) AS q3
      FROM emp),
    dev AS (SELECT abs(b.x - q.med) AS x FROM base b, qrow q),
    dgrid AS (
      SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT x, count(*) AS c FROM dev GROUP BY x)),
    dpj AS (
      SELECT ((1 * n + 1) - ((1 * n + 1) % 2)) / 2 AS r FROM mom),
    madrow AS (
      SELECT min(x) AS mad FROM dgrid, dpj WHERE dgrid.cum >= dpj.r),
    f AS (
      SELECT b.x, m.n, m.s, m.ss, q.q1, q.med, q.q3, d.mad
      FROM base b, mom m, qrow q, madrow d),
    flags AS (
      SELECT
        CASE WHEN abs(CAST(x AS DOUBLE)
               - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             > 3.0 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0))
             THEN 1 ELSE 0 END AS zf,
        CASE WHEN x * 2 < q1 * 2 - (q3 - q1) * 3
               OR x * 2 > q3 * 2 + (q3 - q1) * 3
             THEN 1 ELSE 0 END AS qf,
        CASE WHEN mad > 0 AND abs(x - med) * 6745 > mad * 35000
             THEN 1 ELSE 0 END AS mf
      FROM f)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(zf) AS BIGINT) AS n_z,
           CAST(sum(qf) AS BIGINT) AS n_iqr,
           CAST(sum(mf) AS BIGINT) AS n_mad,
           CAST(sum(CASE WHEN zf + qf + mf >= 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_consensus2,
           CAST(sum(CASE WHEN zf + qf + mf >= 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_consensus3
    FROM flags
    """,
)
def outlier_consensus_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-detector outlier consensus (z-score, Tukey fences, MAD
    rule) over event values (quality/audit.py outlier_consensus;
    Iglewicz & Hoaglin 1993) — integer-rank quartiles/deviation
    median, pure-integer fence and MAD inequalities, ensemble votes
    beside the single-rule mad/iqr/zscore entries."""
    from gofast_spark.quality.audit import outlier_consensus

    e = _t(spark, sf_dir, "events")
    return outlier_consensus(e, "value")
