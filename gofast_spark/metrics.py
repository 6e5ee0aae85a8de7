"""Evaluation metrics as Spark aggregations (SURVEY §2.14).

Reference: gofast/metrics.py (~35 metrics; e.g. ``mean_absolute_percentage_
error``:1840, ``median_absolute_error``:2058, ``adjusted_r2_score``:1743,
``mean_poisson_deviance``:2262, ``root_mean_squared_error``:4326,
``balanced_accuracy``:1277, ``hamming_loss``:2862, ``precision_at_k``:3488,
``ndcg_at_k``:3605, ``gini_score``:2727).  Every one reduces to SQL
aggregate expressions — map-side combined, single reduce, no sklearn and
no driver arrays.  Ranking metrics use a per-query rank window.

Each function returns a one-row DataFrame (or one row per group with
``by``) so metrics compose into the same lazy plans as everything else.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _grouped(df: DataFrame, by: str | Sequence[str] | None):
    if by is None:
        return df.groupBy()
    keys = [by] if isinstance(by, str) else list(by)
    return df.groupBy(*keys)


def regression_report(
    df: DataFrame,
    y_col: str,
    pred_col: str,
    *,
    by: str | Sequence[str] | None = None,
    n_features: int | None = None,
    median_mode: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """mae / rmse / mape / median_ae / r2 (+ adjusted r2 with
    ``n_features``) in ONE aggregation.

    Reference formulas: gofast/metrics.py:1840 (MAPE over nonzero y),
    :2058 (median AE), :1743 (adjusted R2), :4326 (RMSE).

    ``median_ae`` routes through the shared auto/exact/sketch
    percentile switch (stats/prebin.py percentile_expr): with
    ``median_mode='auto'`` it stays exact unless the caller passes a
    known ``n_rows`` above the 100k threshold — an exact global
    percentile over an event-sized frame buffers every |error| into
    one final merge; pass ``median_mode='sketch'`` (or n_rows) at
    scale for the bounded-memory GK path.
    """
    from gofast_spark.stats.prebin import percentile_expr

    y, p = F.col(y_col), F.col(pred_col)
    err = y - p
    sse = F.sum(err * err)
    sst = F.sum(y * y) - F.count(y) * F.pow(F.avg(y), 2)
    r2 = 1 - sse / sst
    aggs = [
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(F.when(y != 0, F.abs(err / y))).alias("mape"),
        percentile_expr(F.abs(err), F.lit(0.5), median_mode, n_rows)
        .cast("double")
        .alias("median_ae"),
        r2.alias("r2"),
        F.count(y).alias("n"),
    ]
    if n_features is not None:
        n = F.count(y)
        aggs.append(
            (1 - (1 - r2) * (n - 1) / (n - n_features - 1)).alias("adj_r2")
        )
    return _grouped(df, by).agg(*aggs)


def mean_poisson_deviance(
    df: DataFrame, y_col: str, pred_col: str, *, by: str | Sequence[str] | None = None
) -> DataFrame:
    """2/n * sum(y*ln(y/pred) - (y - pred)), y*ln(y/pred)=0 at y=0
    (gofast/metrics.py:2262).  Requires pred > 0."""
    y, p = F.col(y_col), F.col(pred_col)
    term = F.when(y > 0, y * F.log(y / p)).otherwise(F.lit(0.0)) - (y - p)
    return _grouped(df, by).agg((2.0 * F.avg(term)).alias("poisson_deviance"))


def classification_report(
    df: DataFrame,
    y_col: str,
    pred_col: str,
    *,
    positive=1,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """accuracy / precision / recall / f1 / hamming loss for a binary
    label in ONE aggregation (gofast/metrics.py:1277, 2862)."""
    y, p = F.col(y_col), F.col(pred_col)
    tp = F.sum(((y == positive) & (p == positive)).cast("long"))
    fp = F.sum(((y != positive) & (p == positive)).cast("long"))
    fn = F.sum(((y == positive) & (p != positive)).cast("long"))
    acc = F.avg((y == p).cast("double"))
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    return _grouped(df, by).agg(
        acc.alias("accuracy"),
        precision.alias("precision"),
        recall.alias("recall"),
        (2 * precision * recall / (precision + recall)).alias("f1"),
        (1 - acc).alias("hamming_loss"),
        F.count(y).alias("n"),
    )


def precision_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    label_col: str,
    k: int,
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """Mean fraction of relevant items in each query's top-k by score
    (gofast/metrics.py:3488).  One rank window per query + one aggregate.
    Ties break by ``tiebreak`` ascending for determinism."""
    order = [F.col(score_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_col).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k)
    per_q = ranked.groupBy(query_col).agg(
        (F.sum(F.col(label_col).cast("double")) / k).alias("__p")
    )
    return per_q.agg(F.avg("__p").alias(f"precision_at_{k}"))


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    label_col: str,
    k: int,
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """Mean NDCG@k (gofast/metrics.py:3605): DCG over the score ranking
    normalized by the ideal DCG over the label ranking — two rank windows
    per query, one aggregate."""
    rel = F.col(label_col).cast("double")
    order = [F.col(score_col).desc()]
    ideal_order = [rel.desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
        ideal_order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_col).orderBy(*order)
    wi = Window.partitionBy(query_col).orderBy(*ideal_order)
    gain = lambda rank: F.when(  # noqa: E731
        rank <= k, (F.pow(2.0, rel) - 1) / F.log2(rank + 1)
    ).otherwise(F.lit(0.0))
    ranked = df.withColumn("__dcg", gain(F.row_number().over(w))).withColumn(
        "__idcg", gain(F.row_number().over(wi))
    )
    per_q = ranked.groupBy(query_col).agg(
        (F.sum("__dcg") / F.sum("__idcg")).alias("__ndcg")
    )
    return per_q.agg(F.avg("__ndcg").alias(f"ndcg_at_{k}"))


def gini_score(
    df: DataFrame,
    y_col: str,
    score_col: str,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Normalized Gini of a ranking score against binary outcomes
    (gofast/metrics.py:2727): 2*AUC - 1, with AUC from the rank-sum
    (Mann-Whitney) identity over **midranks** — tied scores get the
    average rank of the tie group (rank() + (tie_count - 1)/2, as
    sklearn's roc_auc_score does), so AUC is unbiased on heavily tied
    score columns; midranks are order-free, so no tie-break is needed.

    Scale shape: rows are first aggregated per distinct score value
    (map-side partial combine), and the rank cumulative runs over the
    distinct-value frame — never a full-table single-reducer sort (the
    ks_test_2samp pattern).  All tied rows share one midrank, so the
    positive rank-sum is ``sum(pos_v * midrank_v)`` exactly.  ``bins``
    bounds the distinct-score frame on continuous scores via a quantile
    sketch (stats.prebin; exact when distinct <= bins — AUC over binned
    scores treats within-bucket pairs as ties)."""
    from gofast_spark.stats.prebin import prebin_column

    df = prebin_column(df, score_col, bins=bins, relative_error=relative_error)
    y = F.col(y_col).cast("double")
    per_val = df.groupBy(F.col(score_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("double").alias("__c"),
        F.sum(y).alias("__sy"),
        F.count(y).cast("double").alias("__cy"),
        F.count(F.when(y == 1, 1)).cast("double").alias("__p1"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    mr = F.coalesce(F.sum("__c").over(w), F.lit(0.0)) + (F.col("__c") + 1) / 2.0
    ranked = per_val.select("__sy", "__cy", "__p1", mr.alias("__mr"))
    n_pos = F.sum("__sy")
    n_neg = F.sum("__cy") - n_pos
    rank_sum_pos = F.sum(F.col("__p1") * F.col("__mr"))
    auc = (rank_sum_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    return ranked.agg((2 * auc - 1).alias("gini_score"))


def quantile_loss(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
    *,
    q: float = 0.5,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Pinball loss at quantile ``q`` (quantile_loss,
    gofast/metrics.py:321): mean(max(q*e, (q-1)*e)), e = y - yhat."""
    e = F.col(y_col).cast("double") - F.col(yhat_col).cast("double")
    loss = F.greatest(q * e, (q - 1.0) * e)
    return _grouped(df, by).agg(F.avg(loss).alias("quantile_loss"))


def balanced_accuracy(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
) -> DataFrame:
    """Macro-averaged per-class recall (balanced_accuracy,
    gofast/metrics.py:1277): one groupBy on the true label (bounded by
    class cardinality), then the unweighted mean of recalls."""
    per_class = df.groupBy(F.col(y_col).alias("__cls")).agg(
        F.avg(
            (F.col(yhat_col) == F.col(y_col)).cast("double")
        ).alias("__recall")
    )
    return per_class.agg(F.avg("__recall").alias("balanced_accuracy"))


def dice_similarity_score(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
    *,
    positive=1,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Dice coefficient 2TP / (2TP + FP + FN) for binary labels
    (dice_similarity_score, gofast/metrics.py:2614) — one aggregate."""
    yt = (F.col(y_col) == F.lit(positive)).cast("int")
    yp = (F.col(yhat_col) == F.lit(positive)).cast("int")
    tp = F.sum(yt * yp)
    fp = F.sum((1 - yt) * yp)
    fn = F.sum(yt * (1 - yp))
    return _grouped(df, by).agg(
        (2.0 * tp / (2.0 * tp + fp + fn)).alias("dice")
    )


def twa_score(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
    order_col: str,
    *,
    alpha: float = 0.9,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Time-weighted accuracy (twa_score, gofast/metrics.py:97):
    weights alpha^(T-t) decay into the past, so the most recent
    prediction weighs 1.  Computed as alpha^(rank-1) over a
    most-recent-first rank window — partition by ``by`` for many series;
    the unpartitioned form is the reduced-series contract (an evaluation
    frame, not raw 100-TB rows)."""
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    hit = (F.col(y_col) == F.col(yhat_col)).cast("double")
    weight = F.pow(F.lit(alpha), F.row_number().over(w) - 1)
    weighted = df.select(*keys, hit.alias("__hit"), weight.alias("__w"))
    return _grouped(weighted, by or None).agg(
        (F.sum(F.col("__hit") * F.col("__w")) / F.sum("__w")).alias("twa")
    )


def information_value(
    df: DataFrame,
    bucket_col: str,
    label_col: str,
    *,
    positive=1,
    smooth: float = 0.5,
) -> DataFrame:
    """Information value of a bucketed feature vs a binary label
    (information_value, gofast/metrics.py:1417):
    IV = sum_b (p_good_b - p_bad_b) * ln(p_good_b / p_bad_b), with
    Laplace smoothing so empty cells stay finite.  One groupBy on the
    bucket plus a global window over the (tiny) bucket frame."""
    is_pos = (F.col(label_col) == F.lit(positive)).cast("double")
    per = df.groupBy(F.col(bucket_col).alias("__b")).agg(
        F.sum(is_pos).alias("__good"),
        F.sum(1.0 - is_pos).alias("__bad"),
    )
    w = Window.partitionBy(F.lit(1))
    per = per.select(
        "__b",
        ((F.col("__good") + smooth) / F.sum(F.col("__good") + smooth).over(w)).alias("__pg"),
        ((F.col("__bad") + smooth) / F.sum(F.col("__bad") + smooth).over(w)).alias("__pb"),
    )
    return per.agg(
        F.sum(
            (F.col("__pg") - F.col("__pb")) * F.log(F.col("__pg") / F.col("__pb"))
        ).alias("information_value")
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram frame: scores bucketed into ``bins`` equal
    -width bins over [0, 1], each with its mean predicted score, the
    observed positive rate, and count (DeGroot & Fienberg 1983; the
    standard probability-calibration eval).  A well-calibrated model
    has mean_score ~ pos_rate per bin.  One projection + one
    ``bins``-group aggregate; means come from exact integer/micro-unit
    sums so the result is partition-regrouping exact.  Scores outside
    the documented [0, 1] domain are EXCLUDED (a score below 0 would
    otherwise produce a negative bin id, and the +0.5 micro-unit
    rounding is wrong for negatives)."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(bins)).cast("int"), F.lit(bins - 1)
    )
    u6 = (s * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    base = df.where(
        s.isNotNull() & y.isNotNull() & (s >= 0.0) & (s <= 1.0)
    ).select(
        b.alias("bin"), u6.alias("s_u6"), y.cast("bigint").alias("pos")
    )
    return base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("s_u6") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
            "mean_score"
        ),
        (F.sum("pos") / F.count(F.lit(1)).cast("double")).alias("pos_rate"),
    )


def hamming_loss(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    n_labels: int,
) -> DataFrame:
    """Multilabel Hamming loss (gofast/metrics.py:2862): the fraction
    of WRONG label positions, averaged over rows — symmetric-difference
    size of the true/predicted label sets over ``n_labels``.  Array
    columns, pure codegen set arithmetic (array_except both ways), one
    aggregate."""
    a = F.col(label_col)
    b = F.col(pred_col)
    wrong = F.size(F.array_except(a, b)) + F.size(F.array_except(b, a))
    d = df.where(a.isNotNull() & b.isNotNull())
    return d.agg(
        F.avg(wrong / F.lit(float(n_labels))).alias("hamming_loss"),
        F.count(F.lit(1)).alias("n"),
    )


def cohen_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement (Cohen, Educational and
    Psychological Measurement 1960): ``(po - pe) / (1 - pe)`` over two
    categorical labelings.

    Integer-exact shape: one confusion groupBy, class-sized marginal
    joins, and the identity ``kappa = (N*sum(diag) - sum(row_k*col_k))
    / (N^2 - sum(row_k*col_k))`` — every accumulation is an exact
    integer (decimal-widened products), the ONLY float op is the final
    division, so the statistic is engine-deterministic with no ordered
    window.  Returns one row ``(kappa, po, pe, n)``."""
    a, b = F.col(col_a), F.col(col_b)
    conf = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("ca"), b.alias("cb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = conf.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("ca") == F.col("cb"), F.col("cnt")).otherwise(
            F.lit(0)
        )).alias("diag"),
    )
    row_m = conf.groupBy("ca").agg(F.sum("cnt").alias("n_a"))
    col_m = conf.groupBy(F.col("cb").alias("ca")).agg(
        F.sum("cnt").alias("n_b")
    )
    pe_num = (
        row_m.join(col_m, "ca")
        .agg(
            F.sum(
                F.col("n_a").cast("decimal(19,0)") * F.col("n_b")
            ).alias("pe_num")
        )
    )
    j = totals.crossJoin(F.broadcast(pe_num))
    n = F.col("n").cast("double")
    diag = F.col("diag").cast("double")
    pe_n = F.col("pe_num").cast("double")
    kappa = (n * diag - pe_n) / (n * n - pe_n)
    return j.select(
        kappa.alias("kappa"),
        (diag / n).alias("po"),
        (pe_n / (n * n)).alias("pe"),
        F.col("n").alias("n"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    key_col: str,
    *,
    n_buckets: int = 10,
    mode: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Cumulative gains / lift table — the model-targeting readout
    (decile analysis; see e.g. Berry & Linoff, "Data Mining
    Techniques", 2004): rank by score descending, cut into
    ``n_buckets``, report per-bucket response rate, lift, and the
    cumulative capture curve.  Output per bucket: ``(bucket, n, pos,
    response_rate, lift, cum_n, cum_pos, capture, cum_lift)``.

    ``mode`` follows the repo's percentile-switch convention
    (stats/prebin.percentile_expr): ``'exact'`` assigns buckets by
    global ``ntile`` over (score DESC, key) — deterministic, but a
    total sort; ``'sketch'`` cuts at ``percentile_approx`` boundaries
    (distributed, no global sort — bucket sizes approximate);
    ``'auto'`` sketches only above the 100k-row threshold when
    ``n_rows`` is given."""
    from gofast_spark.stats.prebin import percentile_expr, use_sketch

    sketch = use_sketch(mode, n_rows)
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    s = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("bigint")
    base = df.where(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), y.alias("__y"), F.col(key_col).alias("__k")
    )
    if sketch:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = base.agg(
            percentile_expr("__s", qs, "sketch", None).alias("__b")
        )
        ranked = base.crossJoin(F.broadcast(bounds)).select(
            "__y",
            (
                F.lit(n_buckets)
                - F.aggregate(
                    "__b",
                    F.lit(0),
                    lambda acc, bd: acc
                    + F.when(F.col("__s") > bd, 1).otherwise(0),
                )
            ).alias("bucket"),
        )
    else:
        w = Window.orderBy(F.col("__s").desc(), F.col("__k"))
        ranked = base.select(
            "__y", F.ntile(n_buckets).over(w).alias("bucket")
        )
    per = ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("pos")
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    out = per.select(
        "bucket",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("pos").over(wc).alias("cum_pos"),
        F.sum("n").over(tot).alias("__tn"),
        F.sum("pos").over(tot).alias("__tp"),
    )
    nn = F.col("n").cast("double")
    pp = F.col("pos").cast("double")
    tn = F.col("__tn").cast("double")
    tp = F.col("__tp").cast("double")
    cn = F.col("cum_n").cast("double")
    cp = F.col("cum_pos").cast("double")
    return out.select(
        "bucket",
        "n",
        "pos",
        (pp / nn).alias("response_rate"),
        ((pp / nn) / (tp / tn)).alias("lift"),
        "cum_n",
        "cum_pos",
        (cp / tp).alias("capture"),
        ((cp / cn) / (tp / tn)).alias("cum_lift"),
    )


def auc_score(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """ROC-AUC via the Mann-Whitney rank identity (Hanley & McNeil,
    Radiology 1982): ``AUC = (R1 - n1(n1+1)/2) / (n1 * n0)`` with R1
    the midrank sum of positives.

    Integer-exact shape: one groupBy(score) histogram, midranks from a
    cumulative window over the DISTINCT-score table (doubled to stay
    integral: ``2*midrank = 2*cum_prev + cnt + 1``), so the only float
    op is the final division — ties handled exactly, no per-row
    ranking window over raw data.  Returns ``(auc, n_pos, n_neg)``."""
    s = (F.col(score_col) if isinstance(score_col, str) else score_col)
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("bigint")
    per = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(y).alias("pos"))
    )
    w_prev = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    mr2 = (
        F.lit(2) * F.coalesce(F.sum("cnt").over(w_prev), F.lit(0))
        + F.col("cnt")
        + F.lit(1)
    )
    agg = per.select(
        (F.col("pos") * mr2).alias("r1_2"), "pos", "cnt"
    ).agg(
        F.sum("r1_2").alias("r1_2"),
        F.sum("pos").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    auc = (
        (F.col("r1_2") - n1 * (n1 + F.lit(1))).cast("double")
        / (F.lit(2.0) * n1.cast("double") * n0.cast("double"))
    )
    return agg.select(
        auc.alias("auc"), n1.alias("n_pos"), n0.alias("n_neg")
    )


def roc_points(
    df: DataFrame,
    score_col,
    label_col,
    *,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """ROC curve points over a DECLARED threshold grid (the
    value_histogram convention): one histogram groupBy + one cumulative
    window over the bins-sized frame gives ``(threshold, tp, fp, tpr,
    fpr)`` for every candidate cut — the curve behind
    :func:`auc_score`, integer-exact, one scan of any table size.
    Predicting positive means ``score >= threshold``; thresholds are
    the grid's bin lower edges (descending cumulative counts)."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if not hi > lo:
        raise ValueError("need hi > lo")
    s = (F.col(score_col) if isinstance(score_col, str) else score_col).cast(
        "double"
    )
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("bigint")
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((s - F.lit(lo)) / F.lit(width)).cast("int"),
                   F.lit(0)),
        F.lit(bins - 1),
    )
    hist = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos"))
    )
    # score >= threshold(bin) captures this bin and every higher one
    w_ge = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cum = hist.select(
        (F.lit(lo) + F.col("bin").cast("double") * F.lit(width)).alias(
            "threshold"
        ),
        F.sum("pos").over(w_ge).alias("tp"),
        (F.sum("n").over(w_ge) - F.sum("pos").over(w_ge)).alias("fp"),
        F.sum("pos").over(tot).alias("__p"),
        (F.sum("n").over(tot) - F.sum("pos").over(tot)).alias("__n"),
    )
    return cum.select(
        "threshold",
        "tp",
        "fp",
        (F.col("tp").cast("double") / F.col("__p").cast("double")).alias(
            "tpr"
        ),
        (F.col("fp").cast("double") / F.col("__n").cast("double")).alias(
            "fpr"
        ),
    )


def pr_curve(
    df: DataFrame,
    score_col,
    label_col,
    *,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Precision-recall points over the same declared grid as
    :func:`roc_points`, plus step-wise average precision (Zhu 2004 /
    the sklearn AP definition ``sum_k (R_k - R_{k-1}) * P_k`` over
    descending thresholds): one histogram, one descending cumulative
    window, one ordered AP accumulation — all over the bins-sized
    frame.  Returns per threshold ``(threshold, tp, fp, precision,
    recall, avg_precision)`` where avg_precision repeats the final AP
    on every row (a grid-wide constant)."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if not hi > lo:
        raise ValueError("need hi > lo")
    s = (F.col(score_col) if isinstance(score_col, str) else score_col).cast(
        "double"
    )
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("bigint")
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((s - F.lit(lo)) / F.lit(width)).cast("int"),
                   F.lit(0)),
        F.lit(bins - 1),
    )
    hist = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos"))
    )
    w_ge = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cum = hist.select(
        "bin",
        (F.lit(lo) + F.col("bin").cast("double") * F.lit(width)).alias(
            "threshold"
        ),
        F.sum("pos").over(w_ge).alias("tp"),
        (F.sum("n").over(w_ge) - F.sum("pos").over(w_ge)).alias("fp"),
        F.sum("pos").over(tot).alias("__p"),
    )
    prec = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fp")
    ).cast("double")
    rec = F.col("tp").cast("double") / F.col("__p").cast("double")
    pts = cum.select(
        "bin", "threshold", "tp", "fp",
        prec.alias("precision"), rec.alias("recall"),
    )
    # AP = sum over descending thresholds of (recall step) * precision;
    # the recall of the previous (higher) threshold via lag, 0 at the top.
    w_desc = Window.orderBy(F.col("bin").desc())
    step = F.col("recall") - F.coalesce(
        F.lag("recall").over(w_desc), F.lit(0.0)
    )
    with_step = pts.withColumn("__ap_term", step * F.col("precision"))
    ap = with_step.select(
        "bin", "threshold", "tp", "fp", "precision", "recall",
        F.sum("__ap_term")
        .over(
            Window.orderBy(F.col("bin").desc()).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("avg_precision"),
    )
    return ap.drop("bin")


def brier_decomposition(
    df: DataFrame,
    score_col,
    label_col,
    *,
    bins: int = 10,
) -> DataFrame:
    """Brier score with the Murphy (1973) reliability / resolution /
    uncertainty decomposition over ``bins`` equal-width forecast
    buckets:

        brier       = mean((p - y)^2)
        reliability = (1/N) sum_k n_k (pbar_k - ybar_k)^2
        resolution  = (1/N) sum_k n_k (ybar_k - ybar)^2
        uncertainty = ybar (1 - ybar)

    (the binned decomposition; brier = rel - res + unc exactly only
    when forecasts are constant within buckets).  Scores quantize to
    exact integer micro-units so the global squared-error sum is an
    integer (decimal-widened) — no float accumulation anywhere except
    the bins-sized decomposition terms, which fold over a bin-ORDERED
    cumulative window + argmax pick (the repo's deterministic-sum
    discipline).  Returns one row."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    s = (F.col(score_col) if isinstance(score_col, str) else score_col).cast(
        "double"
    )
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("bigint")
    s6 = F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    b = F.least(
        F.greatest(F.floor(s * F.lit(float(bins))).cast("int"), F.lit(0)),
        F.lit(bins - 1),
    )
    base = df.where(s.isNotNull() & y.isNotNull()).select(
        b.alias("bin"), s6.alias("s6"), y.alias("y")
    )
    per = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("y").alias("y_k"),
        F.sum("s6").alias("ss6_k"),
        F.sum(
            (F.col("s6") - F.lit(1_000_000) * F.col("y")).cast(
                "decimal(19,0)"
            )
            * (F.col("s6") - F.lit(1_000_000) * F.col("y"))
        ).alias("se_k"),
    )
    tot = Window.partitionBy()
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    g = per.select(
        "bin",
        "n_k",
        "y_k",
        "ss6_k",
        F.sum("n_k").over(tot).alias("n"),
        F.sum("y_k").over(tot).alias("y_tot"),
        F.sum("se_k").over(tot).alias("se"),
    )
    nk = F.col("n_k").cast("double")
    pbar = F.col("ss6_k").cast("double") / (F.lit(1e6) * nk)
    ybar_k = F.col("y_k").cast("double") / nk
    ybar = F.col("y_tot").cast("double") / F.col("n").cast("double")
    rel_t = nk * (pbar - ybar_k) * (pbar - ybar_k)
    res_t = nk * (ybar_k - ybar) * (ybar_k - ybar)
    cum = g.select(
        "bin",
        "n",
        "y_tot",
        "se",
        F.sum(rel_t).over(w_cum).alias("rel_c"),
        F.sum(res_t).over(w_cum).alias("res_c"),
    )
    last = cum.agg(
        F.max_by(F.struct("n", "y_tot", "se", "rel_c", "res_c"),
                 F.col("bin")).alias("s")
    ).select("s.*")
    n = F.col("n").cast("double")
    yb = F.col("y_tot").cast("double") / n
    return last.select(
        (F.col("se").cast("double") / (F.lit(1e12) * n)).alias("brier"),
        (F.col("rel_c") / n).alias("reliability"),
        (F.col("res_c") / n).alias("resolution"),
        (yb * (F.lit(1.0) - yb)).alias("uncertainty"),
        F.col("n").alias("n"),
    )


def forecast_accuracy(
    df: DataFrame,
    order_col: str,
    value_col: str,
    pred_col: str,
) -> DataFrame:
    """Scale-free forecast accuracy: sMAPE, MASE and Theil's U2 in ONE
    aggregate (Hyndman & Koehler, "Another look at measures of forecast
    accuracy", IJF 2006; Theil 1966).

    MASE and U2 normalize by the in-sample one-step naive forecast
    (``lag(y, 1)`` over ``order_col``), so rows without a predecessor
    contribute to the numerators only.  Per-row terms are quantized to
    exact integer micro-units (ratios) / milli-units (squared errors)
    before summing — the repo's deterministic-sum discipline — so the
    readout is bit-identical across engines and partition orders.
    Intended for rollup-sized series frames (the window sorts only the
    series, never raw data)."""
    w = Window.orderBy(order_col)
    y = F.col(value_col).cast("double")
    f = F.col(pred_col).cast("double")
    base = df.where(y.isNotNull() & f.isNotNull()).select(
        y.alias("__y"),
        f.alias("__f"),
        F.lag(y).over(w).alias("__p"),
    )
    e = F.abs(F.col("__y") - F.col("__f"))
    sm = F.lit(2.0) * e / (F.abs(F.col("__y")) + F.abs(F.col("__f")))
    ne = F.abs(F.col("__y") - F.col("__p"))
    u6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("bigint")  # noqa: E731
    u3 = lambda c: F.floor(c * F.lit(1e3) + F.lit(0.5)).cast("bigint")  # noqa: E731
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(u6(sm)).alias("ssm"),
        F.sum(u6(e)).alias("se"),
        F.sum(u6(ne)).alias("sne"),
        F.count("__p").alias("nn"),
        F.sum(u3(e * e)).alias("se2"),
        F.sum(u3(ne * ne)).alias("sne2"),
    )
    return agg.select(
        "n",
        (F.col("ssm") / (F.col("n") * F.lit(1e6))).alias("smape"),
        (
            (F.col("se") / (F.col("n") * F.lit(1e6)))
            / (F.col("sne") / (F.col("nn") * F.lit(1e6)))
        ).alias("mase"),
        F.sqrt(
            F.col("se2").cast("double") / F.col("sne2").cast("double")
        ).alias("theil_u2"),
    )


def mcc_report(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Matthews correlation coefficient with its companion chance-
    corrected readouts (Matthews, BBA 1975; Youden, Cancer 1950;
    Powers 2011's informedness/markedness decomposition — MCC is their
    geometric mean):

        MCC = (tp*tn - fp*fn) / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn))

    ONE conditional-count aggregate; the numerator and every margin
    product stay exact (decimal-widened) integers, so the statistic is
    bit-reproducible.  Output: (mcc, youden_j, markedness, tp, fp, fn,
    tn, n)."""
    y = F.col(label_col).cast("int")
    p = F.col(pred_col).cast("int")
    d = df.where(y.isNotNull() & p.isNotNull()).select(
        y.alias("__y"), p.alias("__p")
    )

    def cnt(yv, pv, tag):
        return F.sum(
            F.when((F.col("__y") == yv) & (F.col("__p") == pv), 1)
            .otherwise(0)
        ).alias(tag)

    c = d.agg(cnt(1, 1, "tp"), cnt(0, 1, "fp"),
              cnt(1, 0, "fn"), cnt(0, 0, "tn"))
    tp = F.col("tp").cast("decimal(19,0)")
    fp = F.col("fp").cast("decimal(19,0)")
    fn = F.col("fn").cast("decimal(19,0)")
    tn = F.col("tn").cast("decimal(19,0)")
    num = (tp * tn - fp * fn).cast("double")
    den = F.sqrt(
        ((tp + fp) * (tp + fn)).cast("double")
        * ((tn + fp) * (tn + fn)).cast("double")
    )
    tpr = tp.cast("double") / (tp + fn).cast("double")
    tnr = tn.cast("double") / (tn + fp).cast("double")
    ppv = tp.cast("double") / (tp + fp).cast("double")
    npv = tn.cast("double") / (tn + fn).cast("double")
    return c.select(
        (num / den).alias("mcc"),
        (tpr + tnr - F.lit(1.0)).alias("youden_j"),
        (ppv + npv - F.lit(1.0)).alias("markedness"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"))
        .cast("bigint").alias("n"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Expected and maximum calibration error over the reliability-
    diagram bins (Naeini, Cooper & Hauskrecht, AAAI 2015):

        ECE = sum_b (n_b / N) * |mean_score_b - pos_rate_b|
        MCE = max_b |mean_score_b - pos_rate_b|

    Rides :func:`calibration_curve`'s bins; the per-bin gap is an
    exact-integer difference (micro-unit score sums vs integer
    positive counts over a common n_b denominator), quantized to
    nano-units before the bin reduction so the weighted sum is exact.
    Output: one row ``(ece, mce, n, n_bins)``."""
    curve = calibration_curve(df, score_col, label_col, bins=bins)
    gap = F.abs(F.col("mean_score") - F.col("pos_rate"))
    w_u = F.floor(
        F.col("n").cast("double") * gap * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    agg = curve.agg(
        F.sum(w_u).alias("__w"),
        F.max(F.floor(gap * F.lit(1e9) + F.lit(0.5)).cast("bigint"))
        .alias("__mce_u"),
        F.sum("n").alias("__n"),
        F.count(F.lit(1)).alias("__b"),
    )
    return agg.select(
        (F.col("__w").cast("double") / F.lit(1e9)
         / F.col("__n").cast("double")).alias("ece"),
        (F.col("__mce_u").cast("double") / F.lit(1e9)).alias("mce"),
        F.col("__n").cast("bigint").alias("n"),
        F.col("__b").cast("int").alias("n_bins"),
    )
