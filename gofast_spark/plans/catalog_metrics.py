"""Catalog entries for the metrics-as-aggregations family (SURVEY §2.14,
reference gofast/metrics.py).  Predictions are deterministic functions of
fixture columns so both engines score identical (y, pred) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query


@query(
    "regression_metrics_orders",
    oracle="""
    WITH t AS (
      SELECT o_totalprice AS y,
             o_totalprice * 0.9 + (o_orderkey % 1000) AS p
      FROM orders)
    SELECT CAST(round(avg(abs(y - p)), 4) AS DOUBLE) AS mae,
           CAST(round(sqrt(avg((y - p) * (y - p))), 4) AS DOUBLE) AS rmse,
           CAST(round(avg(CASE WHEN y <> 0 THEN abs((y - p) / y) END), 6) AS DOUBLE) AS mape,
           CAST(round(quantile_cont(abs(y - p), 0.5), 4) AS DOUBLE) AS median_ae,
           CAST(round(1 - sum((y-p)*(y-p)) / (sum(y*y) - count(y) * avg(y) * avg(y)), 6) AS DOUBLE) AS r2,
           count(y) AS n
    FROM t
    """,
)
def regression_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass regression report (gofast/metrics.py:1840, 2058, 4326)."""
    from gofast_spark.metrics import regression_report

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("y"),
        (F.col("o_totalprice") * 0.9 + F.col("o_orderkey") % 1000).alias("p"),
    )
    out = regression_report(o, "y", "p")
    return out.select(
        F.round("mae", 4).cast("double").alias("mae"),
        F.round("rmse", 4).cast("double").alias("rmse"),
        F.round("mape", 6).cast("double").alias("mape"),
        F.round("median_ae", 4).cast("double").alias("median_ae"),
        F.round("r2", 6).cast("double").alias("r2"),
        "n",
    )


@query(
    "classification_metrics_orders",
    oracle="""
    WITH t AS (
      SELECT CAST(o_totalprice > 300000 AS INTEGER) AS y,
             CAST((o_orderkey % 3) <> 0 AS INTEGER) AS p
      FROM orders),
    c AS (
      SELECT count(*) FILTER (y = 1 AND p = 1) AS tp,
             count(*) FILTER (y = 0 AND p = 1) AS fp,
             count(*) FILTER (y = 1 AND p = 0) AS fn,
             avg(CAST(y = p AS DOUBLE)) AS acc,
             count(*) AS n
      FROM t)
    SELECT CAST(round(acc, 6) AS DOUBLE) AS accuracy,
           CAST(round(tp * 1.0 / (tp + fp), 6) AS DOUBLE) AS precision,
           CAST(round(tp * 1.0 / (tp + fn), 6) AS DOUBLE) AS recall,
           CAST(round(2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
                / ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn))), 6) AS DOUBLE) AS f1,
           CAST(round(1 - acc, 6) AS DOUBLE) AS hamming_loss,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def classification_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary classification report (gofast/metrics.py:1277, 2862)."""
    from gofast_spark.metrics import classification_report

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 300000).cast("int").alias("y"),
        ((F.col("o_orderkey") % 3) != 0).cast("int").alias("p"),
    )
    out = classification_report(o, "y", "p")
    return out.select(
        F.round("accuracy", 6).cast("double").alias("accuracy"),
        F.round("precision", 6).cast("double").alias("precision"),
        F.round("recall", 6).cast("double").alias("recall"),
        F.round("f1", 6).cast("double").alias("f1"),
        F.round("hamming_loss", 6).cast("double").alias("hamming_loss"),
        "n",
    )


@query(
    "ranking_metrics_events",
    oracle="""
    WITH t AS (
      SELECT event_type AS q, event_id, value AS score,
             CAST(user_id % 2 AS INTEGER) AS rel
      FROM events),
    r AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY score DESC, event_id) AS rn,
             row_number() OVER (PARTITION BY q ORDER BY rel DESC, event_id) AS irn
      FROM t),
    per AS (
      SELECT q,
             sum(CASE WHEN rn <= 5 THEN rel ELSE 0 END) / 5.0 AS p5,
             sum(CASE WHEN rn <= 5 THEN (pow(2.0, rel) - 1) / log2(rn + 1) ELSE 0 END)
               / sum(CASE WHEN irn <= 5 THEN (pow(2.0, rel) - 1) / log2(irn + 1) ELSE 0 END)
               AS ndcg5
      FROM r GROUP BY q)
    SELECT CAST(round(avg(p5), 6) AS DOUBLE) AS precision_at_5,
           CAST(round(avg(ndcg5), 6) AS DOUBLE) AS ndcg_at_5
    FROM per
    """,
)
def ranking_metrics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """precision@k + NDCG@k over per-query rank windows
    (gofast/metrics.py:3488, 3605)."""
    from gofast_spark.metrics import ndcg_at_k, precision_at_k

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("q"),
        "event_id",
        F.col("value").alias("score"),
        (F.col("user_id") % 2).cast("int").alias("rel"),
    )
    p5 = precision_at_k(e, "q", "score", "rel", 5, tiebreak="event_id")
    n5 = ndcg_at_k(e, "q", "score", "rel", 5, tiebreak="event_id")
    return p5.crossJoin(n5).select(
        F.round("precision_at_5", 6).cast("double").alias("precision_at_5"),
        F.round("ndcg_at_5", 6).cast("double").alias("ndcg_at_5"),
    )


@query(
    "gini_score_orders",
    oracle="""
    WITH r AS (
      SELECT CAST(o_totalprice > 300000 AS INTEGER) AS y,
             rank() OVER (ORDER BY o_totalprice)
               + (count(*) OVER (PARTITION BY o_totalprice) - 1) / 2.0 AS rn
      FROM orders),
    s AS (
      SELECT sum(CASE WHEN y = 1 THEN rn END) AS rs,
             sum(y) AS np, count(*) - sum(y) AS nn
      FROM r)
    SELECT CAST(round(2.0 * ((rs - np * (np + 1) / 2.0) / (np * nn)) - 1, 6) AS DOUBLE)
             AS gini_score
    FROM s
    """,
)
def gini_score_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized Gini (2*AUC-1) via the Mann-Whitney rank-sum identity
    over midranks (gofast/metrics.py:2727; ADVICE r2 tie fix)."""
    from gofast_spark.metrics import gini_score

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 300000).cast("int").alias("y"),
        "o_totalprice",
    )
    out = gini_score(o, "y", "o_totalprice")
    return out.select(
        F.round("gini_score", 6).cast("double").alias("gini_score")
    )


@query(
    "poisson_deviance_lineitem",
    oracle="""
    WITH t AS (
      SELECT l_quantity AS y, (l_partkey % 50) + 1.0 AS p FROM lineitem)
    SELECT CAST(round(2.0 * avg(
             CASE WHEN y > 0 THEN y * ln(y / p) ELSE 0 END - (y - p)), 6) AS DOUBLE)
             AS poisson_deviance
    FROM t
    """,
)
def poisson_deviance_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Poisson deviance (gofast/metrics.py:2262)."""
    from gofast_spark.metrics import mean_poisson_deviance

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("y"),
        ((F.col("l_partkey") % 50) + 1.0).alias("p"),
    )
    out = mean_poisson_deviance(li, "y", "p")
    return out.select(
        F.round("poisson_deviance", 6).cast("double").alias("poisson_deviance")
    )


@query(
    "quantile_loss_orders",
    oracle="""
    WITH p AS (
      SELECT o_totalprice AS y,
             o_totalprice * 0.9 + (o_orderkey % 1000) AS yhat
      FROM orders
    )
    SELECT CAST(round(avg(greatest(0.8 * (y - yhat), -0.2 * (y - yhat))), 4)
           AS DOUBLE) AS quantile_loss
    FROM p
    """,
)
def quantile_loss_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss at q=0.8 (quantile_loss, gofast/metrics.py:321)."""
    from gofast_spark.metrics import quantile_loss

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("y"),
        (F.col("o_totalprice") * 0.9 + F.col("o_orderkey") % 1000).alias("yhat"),
    )
    out = quantile_loss(o, "y", "yhat", q=0.8)
    return out.select(
        F.round("quantile_loss", 4).cast("double").alias("quantile_loss")
    )


@query(
    "balanced_accuracy_priority",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority AS y,
             CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
                  ELSE '3-MEDIUM' END AS yhat
      FROM orders
    ), per AS (
      SELECT y, avg(CASE WHEN y = yhat THEN 1.0 ELSE 0.0 END) AS r
      FROM p GROUP BY y
    )
    SELECT CAST(round(avg(r), 6) AS DOUBLE) AS balanced_accuracy FROM per
    """,
)
def balanced_accuracy_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro recall over the 5 priority classes (balanced_accuracy,
    gofast/metrics.py:1277)."""
    from gofast_spark.metrics import balanced_accuracy

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("y"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_orderpriority")
        ).otherwise(F.lit("3-MEDIUM")).alias("yhat"),
    )
    out = balanced_accuracy(o, "y", "yhat")
    return out.select(
        F.round("balanced_accuracy", 6).cast("double").alias("balanced_accuracy")
    )


@query(
    "information_value_segment",
    oracle="""
    WITH lab AS (
      SELECT c_mktsegment AS b,
             CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END AS pos
      FROM customer
    ), per AS (
      SELECT b, sum(pos) AS good, sum(1.0 - pos) AS bad FROM lab GROUP BY b
    ), shares AS (
      SELECT b,
             (good + 0.5) / sum(good + 0.5) OVER () AS pg,
             (bad + 0.5) / sum(bad + 0.5) OVER () AS pb
      FROM per
    )
    SELECT CAST(round(sum((pg - pb) * ln(pg / pb)), 6) AS DOUBLE)
           AS information_value
    FROM shares
    """,
)
def information_value_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IV of market segment vs positive-balance label (information_value,
    gofast/metrics.py:1417), Laplace-smoothed."""
    from gofast_spark.metrics import information_value

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_acctbal") > 0).cast("int").alias("pos"),
    )
    out = information_value(c, "c_mktsegment", "pos", positive=1)
    return out.select(
        F.round("information_value", 6).cast("double").alias("information_value")
    )


@query(
    "calibration_curve_orders",
    oracle="""
    WITH scored AS (
      SELECT (CAST(o_custkey % 97 AS DOUBLE) / 97) AS s,
             CAST(o_orderstatus = 'F' AS INT) AS y
      FROM orders),
    b AS (
      SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
             CAST(trunc(s * 1000000 + 0.5) AS BIGINT) AS s_u6, y
      FROM scored)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(s_u6) / (count(*) * 1000000.0) AS DOUBLE) AS mean_score,
           CAST(sum(y) / CAST(count(*) AS DOUBLE) AS DOUBLE) AS pos_rate
    FROM b GROUP BY bin
    """,
)
def calibration_curve_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (metrics.calibration_curve; DeGroot &
    Fienberg 1983) for a deterministic synthetic score against the
    finished-order label: decile bins, micro-unit-exact mean scores,
    raw integer-division rates — one projection + one 10-group
    aggregate."""
    from gofast_spark.metrics import calibration_curve

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_custkey") % 97).cast("double") / 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return calibration_curve(o, "score", "label", bins=10)


@query(
    "hamming_loss_orders",
    oracle="""
    SELECT CAST(avg((
             CAST((o_orderstatus = 'F') <> (o_orderstatus IN ('F', 'P'))
               AS INT)
           + CAST((o_orderpriority LIKE '1%')
               <> (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
               AS INT)
           + CAST((o_totalprice > 150000) <> (o_totalprice > 100000)
               AS INT)) / 3.0) AS DOUBLE) AS hamming_loss,
           count(*) AS n
    FROM orders
    """,
)
def hamming_loss_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilabel Hamming loss (metrics.hamming_loss,
    gofast/metrics.py:2862) over label SETS as array columns: true vs
    predicted tag sets built from order attributes, symmetric
    -difference arithmetic fully codegen (array_except both ways), one
    aggregate.  The oracle computes the identical mismatch fractions
    from the underlying indicators."""
    from gofast_spark.metrics import hamming_loss

    mk = (
        "filter(array("
        "IF({a}, 'final', NULL), IF({b}, 'urgent', NULL), "
        "IF({c}, 'big', NULL)), x -> x IS NOT NULL)"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.expr(mk.format(
            a="o_orderstatus = 'F'",
            b="o_orderpriority LIKE '1%'",
            c="o_totalprice > 150000",
        )).alias("y_tags"),
        F.expr(mk.format(
            a="o_orderstatus IN ('F', 'P')",
            b="o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'",
            c="o_totalprice > 100000",
        )).alias("p_tags"),
    )
    return hamming_loss(o, "y_tags", "p_tags", 3)


@query(
    "cohen_kappa_orders",
    oracle="""
    WITH d AS (
      SELECT o_orderstatus AS ca,
             CASE WHEN o_totalprice < 100000 THEN 'F'
                  WHEN o_totalprice < 200000 THEN 'O' ELSE 'P' END AS cb
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
    conf AS (SELECT ca, cb, count(*) AS cnt FROM d GROUP BY 1, 2),
    t AS (
      SELECT sum(cnt) AS n,
             sum(CASE WHEN ca = cb THEN cnt ELSE 0 END) AS diag
      FROM conf),
    r AS (SELECT ca, sum(cnt) AS n_a FROM conf GROUP BY ca),
    c AS (SELECT cb AS ca, sum(cnt) AS n_b FROM conf GROUP BY cb),
    p AS (
      SELECT sum(CAST(n_a AS HUGEINT) * n_b) AS pe_num
      FROM r JOIN c USING (ca))
    SELECT CAST(round((CAST(n AS DOUBLE) * CAST(diag AS DOUBLE)
                       - CAST(pe_num AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         - CAST(pe_num AS DOUBLE)), 6) AS DOUBLE) AS kappa,
           CAST(round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS po,
           CAST(round(CAST(pe_num AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
             AS DOUBLE) AS pe,
           CAST(n AS BIGINT) AS n
    FROM t, p
    """,
)
def cohen_kappa_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (metrics.cohen_kappa; Cohen 1960) between the
    order status and a price-rule labeling: integer-exact confusion +
    marginal-product identity, only the final division is float — no
    ordered window, no float accumulation anywhere."""
    from gofast_spark.metrics import cohen_kappa

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderstatus").alias("actual"),
        F.when(F.col("o_totalprice") < 100000, "F")
        .when(F.col("o_totalprice") < 200000, "O")
        .otherwise("P")
        .alias("predicted"),
    )
    out = cohen_kappa(o, "actual", "predicted")
    return out.select(
        F.round("kappa", 6).cast("double").alias("kappa"),
        F.round("po", 6).cast("double").alias("po"),
        F.round("pe", 6).cast("double").alias("pe"),
        "n",
    )


@query(
    "gains_table_orders",
    oracle="""
    WITH d AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS s,
             CAST(o_orderstatus = 'F' AS BIGINT) AS y,
             o_orderkey AS k
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
    r AS (SELECT y, ntile(10) OVER (ORDER BY s DESC, k) AS bucket FROM d),
    per AS (SELECT bucket, count(*) AS n, sum(y) AS pos FROM r
            GROUP BY bucket),
    o AS (
      SELECT bucket, n, pos,
             sum(n) OVER wc AS cum_n, sum(pos) OVER wc AS cum_pos,
             sum(n) OVER () AS tn, sum(pos) OVER () AS tp
      FROM per
      WINDOW wc AS (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           CAST(round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS DOUBLE) AS response_rate,
           CAST(round((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
             AS DOUBLE) AS lift,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(round(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE), 6)
             AS DOUBLE) AS capture,
           CAST(round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
                      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
             AS DOUBLE) AS cum_lift
    FROM o
    """,
)
def gains_table_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift deciles (metrics.gains_table): rank
    orders by total price, label = finished status.  Exact-mode ntile
    with the (score DESC, key) deterministic tie-break — the oracle
    path; at scale the operator's sketch mode cuts at percentile_approx
    boundaries instead of sorting globally."""
    from gofast_spark.metrics import gains_table

    o = _t(spark, sf_dir, "orders")
    out = gains_table(
        o, "o_totalprice", (F.col("o_orderstatus") == "F").cast("int"),
        "o_orderkey", n_buckets=10,
    )
    return out.select(
        "bucket", "n", "pos",
        F.round("response_rate", 6).cast("double").alias("response_rate"),
        F.round("lift", 6).cast("double").alias("lift"),
        "cum_n", "cum_pos",
        F.round("capture", 6).cast("double").alias("capture"),
        F.round("cum_lift", 6).cast("double").alias("cum_lift"),
    )


@query(
    "roc_points_events",
    oracle="""
    WITH d AS (
      SELECT value AS s, CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    h AS (
      SELECT least(greatest(CAST(floor((s - 0.0) / 8.0) AS INT), 0), 63)
               AS bin,
             count(*) AS n, sum(y) AS pos
      FROM d GROUP BY 1),
    c AS (
      SELECT 0.0 + CAST(bin AS DOUBLE) * 8.0 AS threshold,
             sum(pos) OVER wd AS tp,
             sum(n) OVER wd - sum(pos) OVER wd AS fp,
             sum(pos) OVER () AS p,
             sum(n) OVER () - sum(pos) OVER () AS nn
      FROM h
      WINDOW wd AS (ORDER BY bin DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
             AS DOUBLE) AS tpr,
           CAST(round(CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE), 6)
             AS DOUBLE) AS fpr
    FROM c
    """,
)
def roc_points_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points over the declared 0..512/64 grid
    (metrics.roc_points): one histogram groupBy + one descending
    cumulative window over 64 rows — the curve behind roc_auc_events,
    integer-exact counts, one scan at any scale."""
    from gofast_spark.metrics import roc_points

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin(["purchase", "view"])
        & F.col("value").isNotNull()
    )
    out = roc_points(
        e, "value", (F.col("event_type") == "purchase").cast("int"),
        lo=0.0, hi=512.0, bins=64,
    )
    return out.select(
        "threshold", "tp", "fp",
        F.round("tpr", 6).cast("double").alias("tpr"),
        F.round("fpr", 6).cast("double").alias("fpr"),
    )


@query(
    "mad_outliers_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL),
    med AS (SELECT g, quantile_cont(x, 0.5) AS med FROM d GROUP BY g),
    mad AS (
      SELECT d.g, quantile_cont(abs(x - med), 0.5) AS mad
      FROM d JOIN med ON d.g = med.g GROUP BY d.g),
    r AS (
      SELECT d.g,
             CASE WHEN mad > 0
                  THEN 0.6745 * (x - med) / mad ELSE 0.0 END AS mz
      FROM d JOIN med ON d.g = med.g JOIN mad ON d.g = mad.g)
    SELECT g AS event_type, count(*) AS n,
           CAST(sum(CASE WHEN abs(mz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(round(max(abs(mz)), 6) AS DOUBLE) AS max_abs_mz
    FROM r GROUP BY g
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the MAD modified z-score
    (quality/outliers.mad_outliers; Iglewicz & Hoaglin 1993), per event
    type: two grouped percentile aggregates through the shared
    exact/sketch switch, flags at |mz| > 3.5 — the robust companion to
    the zscore/IQR handlers, immune to the outliers dragging the
    scale."""
    from gofast_spark.quality.outliers import mad_outliers

    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    flagged = mad_outliers(e, "value", by="event_type")
    return flagged.groupBy(F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_outlier").cast("bigint").alias("n_outliers"),
        F.round(F.max(F.abs(F.col("mz"))), 6)
        .cast("double")
        .alias("max_abs_mz"),
    )


@query(
    "pr_curve_events",
    oracle="""
    WITH d AS (
      SELECT value AS s, CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    h AS (
      SELECT least(greatest(CAST(floor((s - 0.0) / 8.0) AS INT), 0), 63)
               AS bin,
             count(*) AS n, sum(y) AS pos
      FROM d GROUP BY 1),
    c AS (
      SELECT bin, 0.0 + CAST(bin AS DOUBLE) * 8.0 AS threshold,
             sum(pos) OVER wd AS tp,
             sum(n) OVER wd - sum(pos) OVER wd AS fp,
             sum(pos) OVER () AS p
      FROM h
      WINDOW wd AS (ORDER BY bin DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pts AS (
      SELECT bin, threshold, tp, fp,
             CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
             CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) AS recall
      FROM c),
    st AS (
      SELECT bin, threshold, tp, fp, precision, recall,
             (recall - coalesce(lag(recall) OVER (ORDER BY bin DESC), 0.0))
               * precision AS ap_term
      FROM pts),
    fin AS (
      SELECT bin, threshold, tp, fp, precision, recall,
             sum(ap_term) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS avg_precision
      FROM st)
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(round(precision, 6) AS DOUBLE) AS precision,
           CAST(round(recall, 6) AS DOUBLE) AS recall,
           CAST(round(avg_precision, 6) AS DOUBLE) AS avg_precision
    FROM fin
    """,
)
def pr_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve + step-wise average precision over the
    declared 0..512/64 grid (metrics.pr_curve; the sklearn AP
    definition): one histogram, one descending cumulative window, one
    ordered AP fold — the imbalanced-label companion to
    roc_points_events."""
    from gofast_spark.metrics import pr_curve

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin(["purchase", "view"])
        & F.col("value").isNotNull()
    )
    out = pr_curve(
        e, "value", (F.col("event_type") == "purchase").cast("int"),
        lo=0.0, hi=512.0, bins=64,
    )
    return out.select(
        "threshold", "tp", "fp",
        F.round("precision", 6).cast("double").alias("precision"),
        F.round("recall", 6).cast("double").alias("recall"),
        F.round("avg_precision", 6).cast("double").alias("avg_precision"),
    )


@query(
    "brier_decomposition_orders",
    oracle="""
    WITH d AS (
      SELECT CAST(o_custkey % 97 AS DOUBLE) / 97 AS s,
             CAST(o_orderstatus = 'F' AS BIGINT) AS y
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL),
    q AS (
      SELECT CAST(floor(s * 1000000.0 + 0.5) AS BIGINT) AS s6, y,
             least(greatest(CAST(floor(s * 10.0) AS INT), 0), 9) AS bin
      FROM d),
    per AS (
      SELECT bin, count(*) AS n_k, sum(y) AS y_k, sum(s6) AS ss6_k,
             sum(CAST(s6 - 1000000 * y AS HUGEINT)
                 * (s6 - 1000000 * y)) AS se_k
      FROM q GROUP BY bin),
    g AS (
      SELECT bin, n_k, y_k, ss6_k,
             sum(n_k) OVER () AS n, sum(y_k) OVER () AS y_tot,
             sum(se_k) OVER () AS se
      FROM per),
    t AS (
      SELECT bin, n, y_tot, se,
             sum(CAST(n_k AS DOUBLE)
                 * (CAST(ss6_k AS DOUBLE) / (1000000.0 * CAST(n_k AS DOUBLE))
                    - CAST(y_k AS DOUBLE) / CAST(n_k AS DOUBLE))
                 * (CAST(ss6_k AS DOUBLE) / (1000000.0 * CAST(n_k AS DOUBLE))
                    - CAST(y_k AS DOUBLE) / CAST(n_k AS DOUBLE)))
               OVER wc AS rel_c,
             sum(CAST(n_k AS DOUBLE)
                 * (CAST(y_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                    - CAST(y_tot AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(y_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                    - CAST(y_tot AS DOUBLE) / CAST(n AS DOUBLE)))
               OVER wc AS res_c
      FROM g
      WINDOW wc AS (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    last AS (SELECT * FROM t ORDER BY bin DESC LIMIT 1)
    SELECT CAST(round(CAST(se AS DOUBLE)
                      / (1000000000000.0 * CAST(n AS DOUBLE)), 9)
             AS DOUBLE) AS brier,
           CAST(round(rel_c / CAST(n AS DOUBLE), 9) AS DOUBLE)
             AS reliability,
           CAST(round(res_c / CAST(n AS DOUBLE), 9) AS DOUBLE)
             AS resolution,
           CAST(round((CAST(y_tot AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(y_tot AS DOUBLE) / CAST(n AS DOUBLE)),
                      9) AS DOUBLE) AS uncertainty,
           CAST(n AS BIGINT) AS n
    FROM last
    """,
)
def brier_decomposition_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Murphy (1973) reliability/resolution/uncertainty
    (metrics.brier_decomposition) for the calibration_curve_orders
    score: micro-unit-exact squared errors (the global sum is an exact
    integer), decomposition terms folded over the bin-ordered window
    with an argmax pick — deterministic end to end."""
    from gofast_spark.metrics import brier_decomposition

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderstatus").isNotNull()
    ).select(
        ((F.col("o_custkey") % 97).cast("double") / 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    out = brier_decomposition(o, "score", "label", bins=10)
    return out.select(
        F.round("brier", 9).cast("double").alias("brier"),
        F.round("reliability", 9).cast("double").alias("reliability"),
        F.round("resolution", 9).cast("double").alias("resolution"),
        F.round("uncertainty", 9).cast("double").alias("uncertainty"),
        "n",
    )


@query(
    "isotonic_calibration_orders",
    oracle="""
    WITH scored AS (
      SELECT (CAST(o_custkey % 97 AS DOUBLE) / 97) AS s,
             CAST(o_orderstatus = 'F' AS INT) AS y
      FROM orders),
    base AS (
      SELECT least(CAST(floor(s * 16) AS INT), 15) AS bin,
             CAST(trunc(s * 1000000 + 0.5) AS BIGINT) AS s_u6,
             CAST(trunc(y * 1000000 + 0.5) AS BIGINT) AS y_u6
      FROM scored),
    pb AS (
      SELECT bin, count(*) AS n, sum(s_u6) AS sy_s, sum(y_u6) AS sy
      FROM base GROUP BY bin),
    pc AS (
      SELECT bin, n, sy_s, sy,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(sy) OVER (ORDER BY bin) AS cy
      FROM pb),
    blocks AS (
      SELECT a.bin AS i, b.bin AS j,
             CAST(b.cy - (a.cy - a.sy) AS DOUBLE)
               / ((b.cn - (a.cn - a.n)) * 1000000.0) AS m
      FROM pc a JOIN pc b ON a.bin <= b.bin),
    g AS (
      SELECT i, j, min(m) OVER (PARTITION BY i ORDER BY j DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gmin
      FROM blocks),
    iso AS (SELECT j AS bin, max(gmin) AS iso FROM g GROUP BY j)
    SELECT pb.bin, CAST(pb.n AS BIGINT) AS n,
           CAST(pb.sy_s / (pb.n * 1000000.0) AS DOUBLE) AS mean_score,
           CAST(pb.sy / (pb.n * 1000000.0) AS DOUBLE) AS pos_rate,
           CAST(iso.iso AS DOUBLE) AS iso
    FROM pb JOIN iso USING (bin)
    """,
)
def isotonic_calibration_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration fit (ml/isotonic.py isotonic_fit; Robertson
    -Wright-Dykstra minimax identity, Barlow et al. 1972) of the
    finished-order rate against the calibration_curve_orders score:
    ONE data-sized 16-bin aggregate, then a bins^2 block grid with
    suffix-min / max windows — no serial PAV sweep anywhere.  Dyadic
    bin count (16) keeps the Spark ``(s - lo)/width`` binning and the
    oracle's ``s * 16`` bit-identical; every fitted value is a single
    exact-integer division so no rounding is needed."""
    from gofast_spark.ml.isotonic import isotonic_fit

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_custkey") % 97).cast("double") / 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return isotonic_fit(o, "score", "label", bins=16)


@query(
    "mcc_orders",
    oracle="""
    WITH t AS (
      SELECT CAST(o_totalprice > 300000 AS INTEGER) AS y,
             CAST((o_orderkey % 3) <> 0 AS INTEGER) AS p
      FROM orders),
    c AS (
      SELECT count(*) FILTER (y = 1 AND p = 1) AS tp,
             count(*) FILTER (y = 0 AND p = 1) AS fp,
             count(*) FILTER (y = 1 AND p = 0) AS fn,
             count(*) FILTER (y = 0 AND p = 0) AS tn
      FROM t)
    SELECT CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
             AS DOUBLE)
           / sqrt(CAST((tp + fp) * CAST(tp + fn AS HUGEINT) AS DOUBLE)
                  * CAST((tn + fp) * CAST(tn + fn AS HUGEINT) AS DOUBLE))
             AS mcc,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
             + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0
             AS youden_j,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
             + CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE) - 1.0
             AS markedness,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(tp + fp + fn + tn AS BIGINT) AS n
    FROM c
    """,
)
def mcc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation + Youden's J + markedness on the same
    label/prediction derivation as `classification_metrics_orders`
    (metrics.py mcc_report; Matthews 1975, Powers 2011) — one
    conditional-count aggregate, exact-integer margin products."""
    from gofast_spark.metrics import mcc_report

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 300000).cast("int").alias("y"),
        ((F.col("o_orderkey") % 3) != 0).cast("int").alias("p"),
    )
    return mcc_report(o, "y", "p")


@query(
    "ece_orders",
    oracle="""
    WITH scored AS (
      SELECT (CAST(o_custkey % 97 AS DOUBLE) / 97) AS s,
             CAST(o_orderstatus = 'F' AS INT) AS y
      FROM orders),
    b AS (
      SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
             CAST(trunc(s * 1000000 + 0.5) AS BIGINT) AS s_u6, y
      FROM scored),
    curve AS (
      SELECT bin, count(*) AS n,
             CAST(sum(s_u6) / (count(*) * 1000000.0) AS DOUBLE)
               AS mean_score,
             CAST(sum(y) / CAST(count(*) AS DOUBLE) AS DOUBLE)
               AS pos_rate
      FROM b GROUP BY bin),
    a AS (
      SELECT sum(CAST(floor(CAST(n AS DOUBLE)
                            * abs(mean_score - pos_rate) * 1e9 + 0.5)
                   AS BIGINT)) AS w,
             max(CAST(floor(abs(mean_score - pos_rate) * 1e9 + 0.5)
                   AS BIGINT)) AS mce_u,
             sum(n) AS nn, count(*) AS nb
      FROM curve)
    SELECT CAST(w AS DOUBLE) / 1e9 / CAST(nn AS DOUBLE) AS ece,
           CAST(mce_u AS DOUBLE) / 1e9 AS mce,
           CAST(nn AS BIGINT) AS n,
           CAST(nb AS INTEGER) AS n_bins
    FROM a
    """,
)
def ece_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected + maximum calibration error over the reliability bins
    (metrics.expected_calibration_error; Naeini et al. 2015) —
    composes the verified `calibration_curve_orders` chain into the
    scalar calibration readout."""
    from gofast_spark.metrics import expected_calibration_error

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_custkey") % 97).cast("double") / 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return expected_calibration_error(o, "score", "label", bins=10)
