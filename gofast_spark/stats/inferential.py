"""Inferential statistics as sufficient-statistic aggregations.

Reference: gofast/stats/inferential.py — ``t_test_independent``:388,
``anova_test``:1605, ``chi2_test``:1496, ``kolmogorov_smirnov_test``:1173.
There each wraps scipy on an in-memory array; here the *statistic* is
computed distributed from aggregates (counts/means/vars/cumulative ranks)
and only the p-value lookup — a scalar transform of the statistic — runs
on the driver via scipy (import-guarded; statistics work without it).

Scale shape: t/ANOVA/chi2 are single groupBy aggregates (map-side
combined).  KS needs the pooled order statistics: one global sort of the
*distinct values with per-group counts* — at 100 TB, pre-bin values
(quantile sketch) before calling; documented on the function.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin


def _scipy_sf(kind: str, stat: float, *params) -> float | None:
    """p-value via scipy on the driver; None when scipy is unavailable."""
    try:
        from scipy import stats as ss
    except ImportError:
        return None
    if kind == "t":
        return float(2.0 * ss.t.sf(abs(stat), params[0]))
    if kind == "f":
        return float(ss.f.sf(stat, params[0], params[1]))
    if kind == "chi2":
        return float(ss.chi2.sf(stat, params[0]))
    if kind == "ks":
        n1, n2 = params
        en = n1 * n2 / (n1 + n2)
        return float(ss.kstwo.sf(stat, round(en)))
    return None


def t_test_independent(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    equal_var: bool = True,
) -> DataFrame:
    """Two-sample t statistic (pooled by default, matching scipy's
    ``ttest_ind``; Welch with ``equal_var=False``).

    One aggregate computes (n, mean, var) per group; the t formula is a
    projection over that single reduced row.  Output: one row
    (t_stat, dof, n_a, n_b).  Reference: gofast/stats/inferential.py:388.
    """
    v, g = F.col(value_col), F.col(group_col)
    agg = df.where(g.isin([group_a, group_b])).groupBy(g.alias("__g")).agg(
        F.count(v).alias("n"), F.avg(v).alias("mu"), F.var_samp(v).alias("s2")
    )
    a = agg.where(F.col("__g") == group_a).select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("s2").alias("s2_a")
    )
    b = agg.where(F.col("__g") == group_b).select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("s2").alias("s2_b")
    )
    row = a.crossJoin(b)  # two 1-row frames
    if equal_var:
        sp2 = (
            ((F.col("n_a") - 1) * F.col("s2_a") + (F.col("n_b") - 1) * F.col("s2_b"))
            / (F.col("n_a") + F.col("n_b") - 2)
        )
        t = (F.col("mu_a") - F.col("mu_b")) / F.sqrt(
            sp2 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        )
        dof = F.col("n_a") + F.col("n_b") - 2
    else:
        se2_a = F.col("s2_a") / F.col("n_a")
        se2_b = F.col("s2_b") / F.col("n_b")
        t = (F.col("mu_a") - F.col("mu_b")) / F.sqrt(se2_a + se2_b)
        dof = F.pow(se2_a + se2_b, 2) / (
            F.pow(se2_a, 2) / (F.col("n_a") - 1) + F.pow(se2_b, 2) / (F.col("n_b") - 1)
        )
    return row.select(
        t.alias("t_stat"),
        dof.cast("double").alias("dof"),
        F.col("n_a"),
        F.col("n_b"),
    )


def t_test_p_value(result_row) -> float | None:
    """Driver-side p-value for a :func:`t_test_independent` result row."""
    return _scipy_sf("t", result_row["t_stat"], result_row["dof"])


def anova_test(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One-way ANOVA F statistic (gofast/stats/inferential.py:1605).

    Per-group (n, mean, var) + grand mean -> between/within mean squares.
    Two tiny aggregates; no data sort.  Output: (f_stat, dof_between,
    dof_within, n_groups).
    """
    v, g = F.col(value_col), F.col(group_col)
    per = df.groupBy(g.alias("__g")).agg(
        F.count(v).alias("n"), F.avg(v).alias("mu"), F.var_samp(v).alias("s2")
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("N"),
        (F.sum(F.col("n") * F.col("mu")) / F.sum("n")).alias("grand"),
        F.sum(F.col("n") * F.col("mu") * F.col("mu")).alias("sum_nmu2"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("ssw"),
    )
    ssb = F.col("sum_nmu2") - F.col("N") * F.col("grand") * F.col("grand")
    dof_b = F.col("k") - 1
    dof_w = F.col("N") - F.col("k")
    f = (ssb / dof_b) / (F.col("ssw") / dof_w)
    return stats.select(
        f.alias("f_stat"),
        dof_b.cast("bigint").alias("dof_between"),
        dof_w.cast("bigint").alias("dof_within"),
        F.col("k").cast("bigint").alias("n_groups"),
    )


def chi2_test(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square independence statistic over a contingency of two
    categoricals (gofast/stats/inferential.py:1496).

    obs = groupBy(a, b) counts; expected = row_total * col_total / N via
    two broadcast-joined marginal aggregates.  Output: (chi2, dof).
    """
    a, b = F.col(col_a), F.col(col_b)
    obs = df.groupBy(a.alias("__a"), b.alias("__b")).agg(
        F.count(F.lit(1)).alias("o")
    )
    row_m = obs.groupBy("__a").agg(F.sum("o").alias("ra"))
    col_m = obs.groupBy("__b").agg(F.sum("o").alias("cb"))
    n = obs.agg(F.sum("o").alias("N"))
    joined = (
        obs.join(F.broadcast(row_m), "__a")
        .join(F.broadcast(col_m), "__b")
        .crossJoin(F.broadcast(n))
    )
    e = F.col("ra") * F.col("cb") / F.col("N")
    per_cell = joined.select(
        (F.pow(F.col("o") - e, 2) / e).alias("cell"), "__a", "__b"
    )
    dims = per_cell.agg(
        F.sum("cell").alias("chi2"),
        (
            (F.countDistinct("__a") - 1) * (F.countDistinct("__b") - 1)
        ).cast("bigint").alias("dof"),
    )
    return dims


def levene_test(
    df: DataFrame, value_col: str, group_col: str, *, center: str = "median"
) -> DataFrame:
    """Levene / Brown-Forsythe homogeneity-of-variance statistic
    (gofast/stats/inferential.py:793): one-way ANOVA F computed on the
    absolute deviations from each group's center (median by default —
    the robust Brown-Forsythe variant; mean for classic Levene).

    Two aggregates: per-group centers, then the ANOVA pass over |x - c|.
    Output: (w_stat, dof_between, dof_within).
    """
    v, g = F.col(value_col), F.col(group_col)
    center_fn = (
        F.percentile(v, 0.5) if center == "median" else F.avg(v)
    )
    centers = df.groupBy(g.alias("__g")).agg(center_fn.alias("__c"))
    z = (
        df.join(F.broadcast(centers), g == F.col("__g"))
        .select(F.col("__g"), F.abs(v - F.col("__c")).alias("__z"))
    )
    out = anova_test(z, "__z", "__g")
    return out.select(
        F.col("f_stat").alias("w_stat"), "dof_between", "dof_within"
    )


def mcnemar_test(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """McNemar paired-binary statistic (gofast/stats/inferential.py:911):
    ``(b - c)^2 / (b + c)`` over the discordant cells — one aggregate."""
    a, b = F.col(a_col), F.col(b_col)
    nb = F.sum(((a == 1) & (b == 0)).cast("long"))
    nc = F.sum(((a == 0) & (b == 1)).cast("long"))
    return df.agg(
        (F.pow(nb - nc, 2) / (nb + nc)).alias("mcnemar_stat"),
        nb.alias("n_10"),
        nc.alias("n_01"),
    )


def cronbach_alpha(df: DataFrame, item_cols: "list[str]") -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient
    (gofast/stats/inferential.py:1391):
    ``alpha = k/(k-1) * (1 - sum(var_i) / var(total))`` — item variances
    and the row-total variance in ONE aggregate."""
    k = len(item_cols)
    total = None
    for c in item_cols:
        total = F.col(c) if total is None else total + F.col(c)
    aggs = [F.var_samp(c).alias(f"__v_{i}") for i, c in enumerate(item_cols)]
    aggs.append(F.var_samp(total).alias("__vt"))
    row = df.agg(*aggs)
    item_var_sum = None
    for i in range(k):
        v = F.col(f"__v_{i}")
        item_var_sum = v if item_var_sum is None else item_var_sum + v
    return row.select(
        (k / (k - 1.0) * (1 - item_var_sum / F.col("__vt"))).alias("alpha"),
        F.lit(k).alias("k_items"),
    )


def friedman_test(
    df: DataFrame, block_col: str, treatment_col: str, value_col: str
) -> DataFrame:
    """Friedman chi-square over blocked rankings
    (gofast/stats/inferential.py:1272):
    ``chi2 = 12/(n*k*(k+1)) * sum(R_j^2) - 3*n*(k+1)`` with ranks
    assigned WITHIN each block — the rank window partitions by block, so
    state is bounded per block and the op scales with block count.
    Empty input gives one row ``(NULL, -1, 0)``, as the SQL form does."""
    w = Window.partitionBy(block_col).orderBy(F.col(value_col).asc())
    ties = Window.partitionBy(block_col, value_col)
    rk = F.rank().over(w) + (F.count(F.lit(1)).over(ties) - 1) / 2.0
    ranked = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        rk.alias("__r"),
    )
    per_t = ranked.groupBy("__t").agg(F.sum("__r").alias("rsum"))
    n_blocks = df.select(block_col).distinct().count()
    k = per_t.count()
    stats = per_t.agg(F.sum(F.col("rsum") * F.col("rsum")).alias("s"))
    # empty input (no blocks): the rank sum is NULL, so chi2 is NULL
    denom = n_blocks * k * (k + 1)
    scale = F.lit(12.0 / denom if denom else None).cast("double")
    chi2 = scale * F.col("s") - 3.0 * n_blocks * (k + 1)
    return stats.select(
        chi2.alias("friedman_chi2"),
        F.lit(k - 1).cast("bigint").alias("dof"),
        F.lit(n_blocks).cast("bigint").alias("n_blocks"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Wilcoxon signed-rank W (gofast/stats/inferential.py:200): rank the
    nonzero |a - b| (average ranks), W = sum of ranks where d > 0.

    Scale shape: aggregate to distinct |d| values with positive/negative
    counts first, run the cumulative midrank over that small frame, and
    form the rank sums as ``sum(count * midrank)`` — the ks_test_2samp
    pattern, no full-table rank window.  ``bins`` bounds the distinct
    |d| frame on continuous differences (stats.prebin; exact when
    distinct <= bins)."""
    from gofast_spark.stats.prebin import prebin_column

    d = F.col(a_col) - F.col(b_col)
    nz = (
        df.select(d.alias("__d"))
        .where(F.col("__d") != 0)
        .withColumn("__ad0", F.abs(F.col("__d")))
    )
    nz = prebin_column(
        nz, "__ad0", bins=bins, relative_error=relative_error
    )
    per_val = nz.groupBy(F.col("__ad0").alias("__ad")).agg(
        F.count(F.lit(1)).cast("double").alias("__c"),
        F.count(F.when(F.col("__d") > 0, 1)).cast("double").alias("__cp"),
        F.count(F.when(F.col("__d") < 0, 1)).cast("double").alias("__cn"),
    )
    w = Window.orderBy("__ad").rowsBetween(Window.unboundedPreceding, -1)
    mr = F.coalesce(F.sum("__c").over(w), F.lit(0.0)) + (F.col("__c") + 1) / 2.0
    ranked = per_val.select("__c", "__cp", "__cn", mr.alias("__mr"))
    return ranked.agg(
        F.sum(F.col("__cp") * F.col("__mr")).alias("w_plus"),
        F.sum(F.col("__cn") * F.col("__mr")).alias("w_minus"),
        F.sum("__c").cast("bigint").alias("n_nonzero"),
    )


def ks_test_2samp(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic
    (gofast/stats/inferential.py:1173).

    D = max over observed values of |ECDF_a(x) - ECDF_b(x)|, computed with
    cumulative per-group counts over the value ordering (SURVEY §2.10's
    "sorted cumulative window").  The sort runs over *distinct values with
    per-group counts* — dedupe first keeps the sorted set small; for
    100 TB continuous values, ``bins`` pre-buckets with a quantile sketch
    (stats.prebin; exact when distinct <= bins, D error bounded by the
    max within-bucket ECDF gap otherwise).  Output: (ks_stat, n_a, n_b).
    """
    from gofast_spark.stats.prebin import prebin_column

    v, g = F.col(value_col), F.col(group_col)
    sub = df.where(g.isin([group_a, group_b])).select(
        v.alias("x"),
        F.when(g == group_a, 1).otherwise(0).alias("ia"),
        F.when(g == group_b, 1).otherwise(0).alias("ib"),
    )
    sub = prebin_column(sub, "x", bins=bins, relative_error=relative_error)
    per_val = sub.groupBy("x").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    w = Window.orderBy(F.col("x")).rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cdf = per_val.select(
        (F.sum("ca").over(w) / F.sum("ca").over(tot)).alias("fa"),
        (F.sum("cb").over(w) / F.sum("cb").over(tot)).alias("fb"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )
    return cdf.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks_stat"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )


def t_test_paired(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Paired t statistic (statistical_tests test_type='ttest_paired',
    gofast/stats/inferential.py:1835): a one-sample t on the differences —
    one aggregate pass."""
    d = (F.col(a_col) - F.col(b_col)).alias("__d")
    agg = df.select(d).agg(
        F.avg("__d").alias("mean_diff"),
        F.stddev_samp("__d").alias("sd_diff"),
        F.count(F.lit(1)).alias("n"),
    )
    t = F.col("mean_diff") / (F.col("sd_diff") / F.sqrt(F.col("n")))
    return agg.select(
        t.alias("t_stat"),
        "mean_diff",
        "sd_diff",
        (F.col("n") - 1).cast("bigint").alias("dof"),
        "n",
    )


def cochran_q_test(df: DataFrame, item_cols: "list[str]") -> DataFrame:
    """Cochran's Q over k related binary outcomes (statistical_tests
    test_type='cochran_q', gofast/stats/inferential.py:1835):

        Q = k(k-1) * sum_j (G_j - T/k)^2 / (k*T - sum_i L_i^2)

    with ``G_j`` the column totals, ``L_i`` the row totals, ``T`` the
    grand total — all from ONE aggregate (k column sums + the row-total
    square sum)."""
    k = len(item_cols)
    L = None
    for c in item_cols:
        L = F.col(c) if L is None else L + F.col(c)
    aggs = [F.sum(c).cast("double").alias(f"__g_{i}") for i, c in enumerate(item_cols)]
    aggs.append(F.sum(L * L).cast("double").alias("__l2"))
    aggs.append(F.sum(L).cast("double").alias("__t"))
    row = df.agg(*aggs)
    gbar = F.col("__t") / k
    num = None
    for i in range(k):
        term = F.pow(F.col(f"__g_{i}") - gbar, 2)
        num = term if num is None else num + term
    q = k * (k - 1.0) * num / (k * F.col("__t") - F.col("__l2"))
    return row.select(
        q.alias("cochran_q"),
        F.lit(k - 1).cast("bigint").alias("dof"),
    )


def rm_anova_test(
    df: DataFrame, subject_col: str, condition_col: str, value_col: str
) -> DataFrame:
    """One-way repeated-measures ANOVA (statistical_tests
    test_type='rm_anova', gofast/stats/inferential.py:1835): the sums of
    squares decompose into grand/subject/condition means — three groupBy
    aggregates, each map-side combinable; no per-subject state beyond its
    mean."""
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(subject_col).alias("__s"),
        F.col(condition_col).alias("__c"),
        v.alias("__v"),
    ).persist()
    try:
        g = base.agg(
            F.avg("__v").alias("gm"),
            F.sum(F.col("__v") * F.col("__v")).alias("v2"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        grand_mean, n_total = g["gm"], g["n"]
        # ss_total from raw moments: sum(v^2) - n*gm^2 — no third scan
        ss_total = g["v2"] - n_total * grand_mean * grand_mean
        subj = base.groupBy("__s").agg(
            F.avg("__v").alias("sm"), F.count(F.lit(1)).alias("k")
        )
        cond = base.groupBy("__c").agg(
            F.avg("__v").alias("cm"), F.count(F.lit(1)).alias("ns")
        )
        srow = subj.agg(
            F.sum(F.col("k") * F.pow(F.col("sm") - grand_mean, 2)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        ss_subj, n_subj = srow["s"], srow["n"]
        crow = cond.agg(
            F.sum(F.col("ns") * F.pow(F.col("cm") - grand_mean, 2)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        ss_cond, k = crow["s"], crow["n"]
    finally:
        base.unpersist()
    ss_err = ss_total - ss_cond - ss_subj
    df_cond = k - 1
    df_err = (n_subj - 1) * (k - 1)
    f_stat = (
        (ss_cond / df_cond) / (ss_err / df_err)
        if df_err > 0 and ss_err > 0
        else None
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (
                float(f_stat) if f_stat is not None else None,
                float(ss_cond),
                float(ss_subj),
                float(ss_err),
                int(df_cond),
                int(df_err),
            )
        ],
        "f_stat double, ss_condition double, ss_subject double, "
        "ss_error double, dof_condition bigint, dof_error bigint",
    )


def statistical_tests(
    df: DataFrame,
    *cols: str,
    test_type: str = "mcnemar",
    **kwargs,
) -> DataFrame:
    """Umbrella dispatcher (statistical_tests,
    gofast/stats/inferential.py:1835): routes ``test_type`` to the
    distributed implementation.  ``cols`` are the column names the chosen
    test expects (see each test's signature)."""
    from gofast_spark.stats.relationships import kruskal_wallis

    table = {
        "mcnemar": lambda: mcnemar_test(df, *cols),
        "cochran_q": lambda: cochran_q_test(df, list(cols)),
        "kruskal_wallis": lambda: kruskal_wallis(df, *cols),
        "wilcoxon": lambda: wilcoxon_signed_rank(df, *cols),
        "ttest_paired": lambda: t_test_paired(df, *cols),
        "ttest_indep": lambda: t_test_independent(df, *cols, **kwargs),
        "rm_anova": lambda: rm_anova_test(df, *cols),
        "anova": lambda: anova_test(df, *cols),
        "chi2": lambda: chi2_test(df, *cols),
        "levene": lambda: levene_test(df, *cols),
        "friedman": lambda: friedman_test(df, *cols),
        "ks": lambda: ks_test_2samp(df, *cols, **kwargs),
    }
    if test_type not in table:
        raise ValueError(
            f"unknown test_type {test_type!r}; one of {sorted(table)}"
        )
    return table[test_type]()


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    bins: int | str | None = "auto",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Mann-Whitney U (independent two-sample rank-sum test) with the
    normal approximation and tie correction.

    Scale shape (the ks_test_2samp / wilcoxon pattern): aggregate to
    DISTINCT values with per-group counts, run the cumulative midrank
    over that small frame, and form rank sums as ``sum(count *
    midrank)`` — never a full-table rank window.  ``bins`` pre-buckets
    continuous values (stats.prebin; exact when distinct <= bins).

    Returns one row: (u_a, u_b, z, n_a, n_b) where ``z`` is the
    tie-corrected normal statistic of ``u_a`` (reference parity:
    the rank-sum member of gofast/stats/inferential.py's test family).
    """
    from gofast_spark.stats.prebin import prebin_column

    src = df.where(F.col(group_col).isin(group_a, group_b)).select(
        F.col(value_col).cast("double").alias("__v"),
        (F.col(group_col) == group_a).cast("int").alias("__ia"),
    )
    src = prebin_column(src, "__v", bins=bins, relative_error=relative_error)
    per_val = src.groupBy("__v").agg(
        F.count(F.lit(1)).cast("double").alias("__c"),
        F.sum("__ia").cast("double").alias("__ca"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    mr = F.coalesce(F.sum("__c").over(w), F.lit(0.0)) + (F.col("__c") + 1) / 2.0
    ranked = per_val.select("__c", "__ca", mr.alias("__mr"))
    agg = ranked.agg(
        F.sum(F.col("__ca") * F.col("__mr")).alias("__ra"),
        F.sum("__ca").alias("__na"),
        F.sum("__c").alias("__n"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")).alias(
            "__ties"
        ),
    )
    na = F.col("__na")
    nb = F.col("__n") - na
    ua = F.col("__ra") - na * (na + 1) / 2.0
    ub = na * nb - ua
    n = F.col("__n")
    var = (
        na
        * nb
        / 12.0
        * ((n + 1) - F.col("__ties") / (n * (n - 1)))
    )
    z = (ua - na * nb / 2.0) / F.sqrt(var)
    return agg.select(
        ua.alias("u_a"),
        ub.alias("u_b"),
        z.alias("z"),
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cohen's d effect size for two independent groups: mean
    difference over the pooled (n-1-weighted) standard deviation — the
    magnitude companion to the t/U tests, from the same single pass of
    sufficient statistics (one aggregate, no second scan)."""
    v = F.col(value_col).cast("double")
    ia = (F.col(group_col) == group_a).cast("int")
    ib = (F.col(group_col) == group_b).cast("int")
    agg = df.where(F.col(group_col).isin(group_a, group_b)).agg(
        F.sum(ia).cast("double").alias("na"),
        F.sum(ib).cast("double").alias("nb"),
        F.sum(ia * v).alias("sa"),
        F.sum(ib * v).alias("sb"),
        F.sum(ia * v * v).alias("qa"),
        F.sum(ib * v * v).alias("qb"),
    )
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    ssa = F.col("qa") - F.col("sa") * F.col("sa") / F.col("na")
    ssb = F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb")
    pooled = F.sqrt((ssa + ssb) / (F.col("na") + F.col("nb") - 2))
    return agg.select(
        ((ma - mb) / pooled).alias("d"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        pooled.alias("pooled_sd"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
    )


def two_proportion_test(
    df: DataFrame,
    group_col: str,
    success_col,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test with Wilson score intervals (pooled-SE z
    per standard practice; Wilson, JASA 1927 for the per-group CI).

    Everything derives from four exact integer counts (one aggregate):
    ``z = (p_a - p_b) / sqrt(p_pool (1 - p_pool) (1/n_a + 1/n_b))``,
    plus each group's 95% Wilson interval — the conversion-rate readout
    of every experimentation dashboard, engine-deterministic because
    the only inputs are integers.  Returns one row ``(p_a, p_b, z,
    p_value, a_lo, a_hi, b_lo, b_hi, n_a, n_b)``."""
    from gofast_spark.stats.multiple import p_two_sided_from_z

    s = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("bigint")
    in_a = (F.col(group_col) == group_a).cast("bigint")
    in_b = (F.col(group_col) == group_b).cast("bigint")
    agg = df.where(F.col(group_col).isin([group_a, group_b])).agg(
        F.sum(in_a).alias("n_a"),
        F.sum(in_b).alias("n_b"),
        F.sum(s * in_a).alias("x_a"),
        F.sum(s * in_b).alias("x_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    z = (pa - pb) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )

    def wilson(x, n):
        # 95% Wilson score interval, z* = 1.96
        zz = F.lit(1.96)
        p = x / n
        denom = F.lit(1.0) + zz * zz / n
        center = (p + zz * zz / (F.lit(2.0) * n)) / denom
        half = (
            zz
            * F.sqrt(
                p * (F.lit(1.0) - p) / n
                + zz * zz / (F.lit(4.0) * n * n)
            )
            / denom
        )
        return center - half, center + half

    a_lo, a_hi = wilson(xa, na)
    b_lo, b_hi = wilson(xb, nb)
    return agg.select(
        pa.alias("p_a"),
        pb.alias("p_b"),
        z.alias("z"),
        p_two_sided_from_z(z).alias("p_value"),
        a_lo.alias("a_lo"),
        a_hi.alias("a_hi"),
        b_lo.alias("b_lo"),
        b_hi.alias("b_hi"),
        F.col("n_a"),
        F.col("n_b"),
    )


def cochran_armitage_trend(
    df: DataFrame,
    score_col,
    success_col,
) -> DataFrame:
    """Cochran-Armitage test for trend in proportions across ordered
    groups (Cochran, Biometrics 1954; Armitage 1955):

        T   = sum_i r_i (s_i - sbar),        sbar = sum(s_i n_i) / N
        Var = p (1 - p) * sum_i n_i (s_i - sbar)^2,   p = R / N
        z   = T / sqrt(Var)

    where group ``i`` has integer score ``s_i``, ``n_i`` rows and
    ``r_i`` successes.  One groupBy(score) + one 1-row fold; with
    integer scores every accumulation before the final division is an
    exact (decimal-widened) integer: T = sum(r s) - R * sum(n s) / N
    and the variance moment use only count sums.  Returns one row
    ``(z, p_value, n, n_groups)``."""
    from gofast_spark.stats.multiple import p_two_sided_from_z

    s = (F.col(score_col) if isinstance(score_col, str) else score_col).cast(
        "bigint"
    )
    y = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("bigint")
    per = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("sc"))
        .agg(F.count(F.lit(1)).alias("n_i"), F.sum(y).alias("r_i"))
    )
    agg = per.agg(
        F.sum("n_i").alias("n"),
        F.sum("r_i").alias("r"),
        F.sum(F.col("r_i").cast("decimal(19,0)") * F.col("sc")).alias("rs"),
        F.sum(F.col("n_i").cast("decimal(19,0)") * F.col("sc")).alias("ns"),
        F.sum(
            F.col("n_i").cast("decimal(19,0)") * F.col("sc") * F.col("sc")
        ).alias("nss"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    n = F.col("n").cast("double")
    r = F.col("r").cast("double")
    rs = F.col("rs").cast("double")
    ns = F.col("ns").cast("double")
    nss = F.col("nss").cast("double")
    t = rs - r * ns / n
    p = r / n
    var = p * (F.lit(1.0) - p) * (nss - ns * ns / n)
    z = t / F.sqrt(var)
    return agg.select(
        z.alias("z"),
        p_two_sided_from_z(z).alias("p_value"),
        F.col("n"),
        F.col("n_groups"),
    )


def g_test(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """G-test of independence (log-likelihood-ratio chi-square;
    Sokal & Rohlf, "Biometry"): ``G = 2 sum_cells O ln(O / E)`` with
    ``E = row * col / N``, asymptotically chi-square with
    (r-1)(c-1) dof — the information-theoretic twin of the Pearson
    chi2 (stats chi2 entries), preferred for small expected counts.

    One confusion groupBy + class-sized marginal joins; every input to
    the log is a ratio of exact integers, and the cell-term sum folds
    over a (row, col)-ordered cumulative window + argmax pick so the
    float accumulation is order-fixed.  Returns one row
    ``(g_stat, dof, n)``."""
    a, b = F.col(col_a), F.col(col_b)
    conf = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("ca"), b.alias("cb"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = conf.groupBy("ca").agg(F.sum("o").alias("n_a"))
    col_m = conf.groupBy("cb").agg(F.sum("o").alias("n_b"))
    tot = conf.agg(
        F.sum("o").alias("n"),
        F.countDistinct("ca").alias("r"),
        F.countDistinct("cb").alias("c"),
    )
    j = (
        conf.join(F.broadcast(row_m), "ca")
        .join(F.broadcast(col_m), "cb")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("o").cast("double")
    e = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.col("n").cast("double")
    )
    term = o * F.log(o / e)
    w_cum = Window.orderBy("ca", "cb").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = j.select(
        "ca",
        "cb",
        F.sum(term).over(w_cum).alias("g_half"),
        "n",
        "r",
        "c",
    )
    last = cum.agg(
        F.max_by(
            F.struct("g_half", "n", "r", "c"), F.struct("ca", "cb")
        ).alias("s")
    ).select("s.*")
    return last.select(
        (F.lit(2.0) * F.col("g_half")).alias("g_stat"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.col("n"),
    )


def icc_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1) (Shrout &
    Fleiss, Psychological Bulletin 1979; unbalanced-design n0 per
    Snedecor & Cochran):

        ICC(1) = (MSB - MSW) / (MSB + (n0 - 1) MSW),
        n0 = (N - sum n_i^2 / N) / (k - 1)

    from per-group exact milli-unit moments: SSB and SSW derive from
    (n_i, sum_i, sumsq_i) only, and the cross-group float terms fold
    over a group-ORDERED cumulative window + argmax pick (the repo's
    deterministic-sum discipline — ICC is the reliability companion to
    cronbach_alpha).  Returns one row ``(icc1, msb, msw, n0, k, n)``."""
    x3 = F.floor(F.col(value_col).cast("double") * 1e3 + F.lit(0.5)).cast(
        "bigint"
    )
    per = (
        df.where(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum(x3).alias("s_i"),
            F.sum(x3.cast("decimal(19,0)") * x3).alias("ss_i"),
        )
    )
    tot = Window.partitionBy()
    ni = F.col("n_i").cast("double")
    si = F.col("s_i").cast("double")
    ssi = F.col("ss_i").cast("double")
    g = per.select(
        "g",
        "n_i",
        (si * si / ni).alias("b_term"),
        (ssi - si * si / ni).alias("w_term"),
        F.sum("n_i").over(tot).alias("n"),
        F.sum("s_i").over(tot).alias("s"),
        F.sum(F.col("n_i").cast("decimal(19,0)") * F.col("n_i"))
        .over(tot)
        .alias("nn2"),
        F.count(F.lit(1)).over(tot).alias("k"),
    )
    w_cum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "g",
        "n",
        "s",
        "nn2",
        "k",
        F.sum("b_term").over(w_cum).alias("b_c"),
        F.sum("w_term").over(w_cum).alias("w_c"),
    )
    last = cum.agg(
        F.max_by(F.struct("n", "s", "nn2", "k", "b_c", "w_c"),
                 F.col("g")).alias("st")
    ).select("st.*")
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    k = F.col("k").cast("double")
    ssb = (F.col("b_c") - s * s / n) / F.lit(1e6)
    ssw = F.col("w_c") / F.lit(1e6)
    msb = ssb / (k - F.lit(1.0))
    msw = ssw / (n - k)
    n0 = (n - F.col("nn2").cast("double") / n) / (k - F.lit(1.0))
    icc = (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw)
    return last.select(
        icc.alias("icc1"),
        msb.alias("msb"),
        msw.alias("msw"),
        n0.alias("n0"),
        F.col("k").cast("bigint").alias("k"),
        F.col("n").alias("n"),
    )


def bartlett_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    units: float = 1e6,
) -> DataFrame:
    """Bartlett's homogeneity-of-variances test (Bartlett, Proc. R.
    Soc. A 1937; the parametric counterpart of ``levene_test``,
    gofast/stats/inferential.py:793 family):

        T = [(N-g) ln(s_p^2) - sum_i (n_i-1) ln(s_i^2)] / C
        C = 1 + (sum_i 1/(n_i-1) - 1/(N-g)) / (3(g-1))

    Determinism discipline: per-group variances come from EXACT integer
    moments (values quantized to ``units``, squares widened to decimal),
    so every ``s_i^2`` is the same double on any engine/partitioning;
    the g-row reductions quantize each summand to integer micro-units
    before summing.  Two aggregates total (per-group, then global).
    Output: one row ``(bartlett_stat, dof, n_groups, n)``."""
    vu = (
        F.floor(F.col(value_col).cast("double") * F.lit(units) + F.lit(0.5))
        .cast("bigint")
    )
    per = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(vu.cast("decimal(19,0)")).alias("__s"),
            F.sum(vu.cast("decimal(19,0)") * vu).alias("__ss"),
        )
        .where(F.col("__n") >= 2)
    )
    n = F.col("__n").cast("decimal(19,0)")
    # s2 in VALUE units^2: exact-integer numerator/denominator, one division
    s2 = (
        (n * F.col("__ss") - F.col("__s") * F.col("__s")).cast("double")
        / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
        / F.lit(units * units)
    )
    terms = per.select(
        F.col("__n"),
        # (n_i-1)*s2_i and (n_i-1)*ln(s2_i), quantized to 1e6 micro-units
        F.floor((n - F.lit(1).cast("decimal(19,0)")).cast("double") * s2
                * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("__w_u"),
        F.floor((F.col("__n") - F.lit(1)).cast("double") * F.log(s2)
                * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("__lt_u"),
        # 1/(n_i-1) at 1e12 units
        F.floor(F.lit(1e12) / (F.col("__n") - F.lit(1)).cast("double")
                + F.lit(0.5)).cast("bigint").alias("__inv_u"),
    )
    g = terms.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__N"),
        F.sum("__w_u").alias("__sw"),
        F.sum("__lt_u").alias("__slt"),
        F.sum("__inv_u").alias("__sinv"),
    )
    nn = (F.col("__N") - F.col("__k")).cast("double")
    pooled = F.col("__sw").cast("double") / F.lit(1e6) / nn
    c = F.lit(1.0) + (
        F.col("__sinv").cast("double") / F.lit(1e12) - F.lit(1.0) / nn
    ) / (F.lit(3.0) * (F.col("__k") - F.lit(1)).cast("double"))
    t_stat = (nn * F.log(pooled)
              - F.col("__slt").cast("double") / F.lit(1e6)) / c
    return g.select(
        t_stat.alias("bartlett_stat"),
        (F.col("__k") - F.lit(1)).cast("int").alias("dof"),
        F.col("__k").cast("int").alias("n_groups"),
        F.col("__N").cast("bigint").alias("n"),
    )


def runs_test(
    df: DataFrame, value_col: str, order_col: str
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness about the median
    (Wald & Wolfowitz, Ann. Math. Stat. 1940): count maximal runs of
    same-side-of-median values in series order, compare to the exact
    run-count moments

        mu = 2 n1 n2 / (n1 + n2) + 1
        var = 2 n1 n2 (2 n1 n2 - n1 - n2) / ((n1+n2)^2 (n1+n2-1))

    Values EQUAL to the median are dropped (the standard convention).
    Intended for rollup-sized series: one exact-percentile aggregate
    (broadcast), one lag window, one count aggregate; every count is
    an exact integer so z is engine-reproducible.  Output: one row
    ``(runs, n_above, n_below, z)``."""
    v = F.col(value_col).cast("double")
    med = df.agg(F.percentile(v, 0.5).alias("__med"))
    sided = (
        df.crossJoin(F.broadcast(med))
        .where(v.isNotNull() & (v != F.col("__med")))
        .select(
            F.col(order_col).alias("__o"),
            (v > F.col("__med")).cast("int").alias("__s"),
        )
    )
    w = Window.orderBy("__o")
    marked = sided.select(
        "__s",
        F.when(
            F.lag("__s").over(w).isNull()
            | (F.lag("__s").over(w) != F.col("__s")),
            1,
        ).otherwise(0).alias("__new_run"),
    )
    agg = marked.agg(
        F.sum("__new_run").alias("__r"),
        F.sum("__s").alias("__n1"),
        F.sum(F.lit(1) - F.col("__s")).alias("__n2"),
    )
    r = F.col("__r").cast("double")
    n1 = F.col("__n1").cast("double")
    n2 = F.col("__n2").cast("double")
    nn = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    return agg.select(
        F.col("__r").cast("bigint").alias("runs"),
        F.col("__n1").cast("bigint").alias("n_above"),
        F.col("__n2").cast("bigint").alias("n_below"),
        ((r - mu) / F.sqrt(var)).alias("z"),
    )


def grubbs_test(
    df: DataFrame, column: str, *, units: float = 1e2
) -> DataFrame:
    """Grubbs' maximum-normed-residual outlier statistic (Grubbs,
    Ann. Math. Stat. 1950): ``G = max|x - mean| / sd`` with the sample
    standard deviation, plus the offending value.

    Exact-moment discipline: mean and sd come from ``units``-quantized
    integer sums (decimal-widened squares); the max deviation is an
    order-free integer max over micro-unit deviations, and the outlier
    value ties break on the larger value — ONE stats aggregate +
    ONE deviation aggregate, both engine-reproducible."""
    x = F.col(column).cast("double")
    xu = F.floor(x * F.lit(units) + F.lit(0.5)).cast("bigint")
    d = df.where(x.isNotNull()).select(xu.alias("__xu"))
    stats = d.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__xu").cast("decimal(19,0)")).alias("__s"),
        F.sum(F.col("__xu").cast("decimal(19,0)") * F.col("__xu"))
        .alias("__ss"),
    )
    n = F.col("__n").cast("decimal(19,0)")
    mean_u = F.col("__s").cast("double") / F.col("__n").cast("double")
    var_u2 = (
        (n * F.col("__ss") - F.col("__s") * F.col("__s")).cast("double")
        / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
    )
    st = stats.select(
        "__n", mean_u.alias("__mu"), F.sqrt(var_u2).alias("__sd_u")
    )
    dev = (
        d.crossJoin(F.broadcast(st))
        .select(
            "__xu", "__mu", "__sd_u", "__n",
            F.floor(F.abs(F.col("__xu").cast("double") - F.col("__mu"))
                    * F.lit(1e4) + F.lit(0.5)).cast("bigint")
            .alias("__dev_u"),
        )
    )
    out = dev.groupBy("__n", "__mu", "__sd_u").agg(
        F.max(F.struct(F.col("__dev_u"), F.col("__xu"))).alias("__mx")
    )
    return out.select(
        (F.col("__mx.__dev_u").cast("double") / F.lit(1e4)
         / F.col("__sd_u")).alias("g_stat"),
        (F.col("__mx.__xu").cast("double") / F.lit(units))
        .alias("outlier"),
        (F.col("__mu") / F.lit(units)).alias("mean"),
        (F.col("__sd_u") / F.lit(units)).alias("sd"),
        F.col("__n").cast("bigint").alias("n"),
    )


def anova_two_way(
    df: DataFrame,
    a_col: str,
    b_col: str,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Two-way ANOVA with interaction (the classic weighted
    sums-of-squares decomposition, Scheffe, *The Analysis of
    Variance*, 1959; the reference's ANOVA surface is the one-way
    ``statistical_tests`` dispatch, gofast/stats/inferential.py —
    this completes the factorial form):

        SS_A     = sum_a n_a (ybar_a - ybar)^2
        SS_B     = sum_b n_b (ybar_b - ybar)^2
        SS_cells = sum_ab n_ab (ybar_ab - ybar)^2
        SS_AB    = SS_cells - SS_A - SS_B
        SS_E     = SS_T - SS_cells

    with F ratios against the within-cell mean square.  ONE scan: the
    (a, b) cell aggregate carries micro-unit-exact value and
    value-squared sums, every margin is an integer re-aggregate of
    the cell table, and each SS is a sum of per-cell/per-level terms
    quantized to ``1/unit`` before an integer sum — deterministic in
    any engine.  Returns ONE row: ``(n, df_a, df_b, df_ab, df_err,
    ss_a, ss_b, ss_ab, ss_err, f_a, f_b, f_ab)``."""
    a, b = F.col(a_col), F.col(b_col)
    v = F.col(value_col).cast("double")

    def q(x):
        return F.floor(x * F.lit(float(unit)) + F.lit(0.5)).cast("bigint")

    cells = (
        df.where(a.isNotNull() & b.isNotNull() & v.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-widened integer sums (exact to ~1e28 — the
            # v^2 micro-units would overflow int64 near 4e7 rows)
            F.sum(q(v).cast("decimal(18,0)")).alias("s"),
            F.sum(q(v * v).cast("decimal(18,0)")).alias("qq"),
        )
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    w_all = Window.partitionBy()
    m = cells.select(
        "a", "b", "n", "s", "qq",
        F.sum("n").over(wa).alias("n_a"),
        F.sum("s").over(wa).alias("s_a"),
        F.sum("n").over(wb).alias("n_b"),
        F.sum("s").over(wb).alias("s_b"),
        F.sum("n").over(w_all).alias("nn"),
        F.sum("s").over(w_all).alias("ss"),
        F.sum("qq").over(w_all).alias("qt"),
    )
    u = F.lit(float(unit))
    gbar = F.col("ss").cast("double") / u / F.col("nn").cast("double")

    def mean(s_col, n_col):
        return F.col(s_col).cast("double") / u / F.col(n_col).cast("double")

    da = mean("s_a", "n_a") - gbar
    db_ = mean("s_b", "n_b") - gbar
    dc = mean("s", "n") - gbar
    # per-cell terms; A/B level terms are divided by the level's cell
    # count so summing them over CELLS equals summing once per level
    n_cells_a = F.count(F.lit(1)).over(wa)
    n_cells_b = F.count(F.lit(1)).over(wb)
    terms = m.select(
        "nn", "qt", "ss",
        F.count(F.lit(1)).over(w_all).alias("n_cells"),
        q(F.col("n_a").cast("double") * da * da
          / n_cells_a.cast("double")).alias("t_a"),
        q(F.col("n_b").cast("double") * db_ * db_
          / n_cells_b.cast("double")).alias("t_b"),
        q(F.col("n").cast("double") * dc * dc).alias("t_c"),
    )
    agg = terms.agg(
        F.max("nn").alias("nn"),
        F.max("qt").alias("qt"),
        F.max("ss").alias("ss"),
        F.max("n_cells").alias("n_cells"),
        F.sum("t_a").alias("sa_u"),
        F.sum("t_b").alias("sb_u"),
        F.sum("t_c").alias("sc_u"),
    )
    # level counts from the cell table (exact, tiny)
    n_lv = cells.agg(
        F.countDistinct("a").alias("la"), F.countDistinct("b").alias("lb")
    )
    j = agg.crossJoin(F.broadcast(n_lv))
    nn = F.col("nn").cast("double")
    ss_t = F.col("qt").cast("double") / u - nn * (
        F.col("ss").cast("double") / u / nn
    ) * (F.col("ss").cast("double") / u / nn)
    ss_a = F.col("sa_u").cast("double") / u
    ss_b = F.col("sb_u").cast("double") / u
    ss_cells = F.col("sc_u").cast("double") / u
    ss_ab = ss_cells - ss_a - ss_b
    ss_e = ss_t - ss_cells
    df_a = (F.col("la") - 1).cast("bigint")
    df_b = (F.col("lb") - 1).cast("bigint")
    df_ab = ((F.col("la") - 1) * (F.col("lb") - 1)).cast("bigint")
    df_e = (F.col("nn") - F.col("la") * F.col("lb")).cast("bigint")
    mse = ss_e / df_e.cast("double")
    return j.select(
        F.col("nn").cast("bigint").alias("n"),
        df_a.alias("df_a"),
        df_b.alias("df_b"),
        df_ab.alias("df_ab"),
        df_e.alias("df_err"),
        ss_a.alias("ss_a"),
        ss_b.alias("ss_b"),
        ss_ab.alias("ss_ab"),
        ss_e.alias("ss_err"),
        (ss_a / df_a.cast("double") / mse).alias("f_a"),
        (ss_b / df_b.cast("double") / mse).alias("f_b"),
        (ss_ab / df_ab.cast("double") / mse).alias("f_ab"),
    )


def welch_anova(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Welch's heteroskedastic one-way ANOVA (Welch, Biometrika 1951)
    — the unequal-variances F* the classic pooled ANOVA
    (:func:`anova_test`, green r1) gets wrong when group variances
    differ:

        w_g   = n_g / s^2_g,            W = sum w_g
        ybar* = sum w_g ybar_g / W
        A     = sum w_g (ybar_g - ybar*)^2 / (k - 1)
        B     = 1 + (2 (k-2) / (k^2 - 1)) * sum (1 - w_g/W)^2 / (n_g - 1)
        F*    = A / B,   df1 = k - 1,
        df2   = (k^2 - 1) / (3 * sum (1 - w_g/W)^2 / (n_g - 1))

    One groupBy pass: per-group micro-unit-exact value and
    value-squared sums (decimal-widened) make n, mean, and variance
    deterministic integers/ratios; the k-sized reductions quantize
    each summand to ``1/unit`` before integer sums, so F* and df2
    replay bit-for-bit.  Returns ONE row ``(f_stat, df1, df2, k,
    n)``."""
    g, v = F.col(group_col), F.col(value_col).cast("double")

    def q(x):
        return F.floor(x * F.lit(float(unit)) + F.lit(0.5)).cast("bigint")

    per_g = (
        df.where(g.isNotNull() & v.isNotNull())
        .groupBy(g.alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(q(v).cast("decimal(18,0)")).alias("s_g"),
            F.sum(q(v * v).cast("decimal(18,0)")).alias("q_g"),
        )
    )
    u = F.lit(float(unit))
    n = F.col("n_g").cast("double")
    mean = F.col("s_g").cast("double") / u / n
    # sample variance from exact integer moments
    var = (F.col("q_g").cast("double") / u - n * mean * mean) / (
        n - F.lit(1.0)
    )
    # the weight n/var is undefined for singleton or constant groups
    # (the NaN would fail the ANSI bigint cast downstream): such
    # groups are excluded from the statistic, documented behavior
    w = F.when(var > F.lit(0.0), n / var)
    stage = per_g.where(F.col("n_g") > 1).select(
        "g", "n_g",
        w.alias("w"),
        mean.alias("mu"),
    ).where(F.col("w").isNotNull())
    w_all = Window.partitionBy()
    m = stage.select(
        "n_g", "w", "mu",
        F.sum(q(F.col("w"))).over(w_all).alias("ww_u"),
        F.sum(q(F.col("w") * F.col("mu"))).over(w_all).alias("wm_u"),
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum("n_g").over(w_all).alias("nn"),
    )
    big_w = F.col("ww_u").cast("double") / u
    ystar = F.col("wm_u").cast("double") / u / big_w
    a_term = q(F.col("w") * (F.col("mu") - ystar) * (F.col("mu") - ystar))
    h = F.lit(1.0) - F.col("w") / big_w
    b_term = q(h * h / (F.col("n_g").cast("double") - F.lit(1.0)))
    agg = m.select(
        "k", "nn", a_term.alias("au"), b_term.alias("bu")
    ).agg(
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
        F.sum("au").alias("sa"),
        F.sum("bu").alias("sb"),
    )
    k = F.col("k").cast("double")
    hsum = F.col("sb").cast("double") / u
    a = F.col("sa").cast("double") / u / (k - F.lit(1.0))
    b = F.lit(1.0) + (
        F.lit(2.0) * (k - F.lit(2.0)) / (k * k - F.lit(1.0))
    ) * hsum
    return agg.select(
        (a / b).alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        ((k * k - F.lit(1.0)) / (F.lit(3.0) * hsum)).alias("df2"),
        F.col("k").cast("bigint").alias("k"),
        F.col("nn").cast("bigint").alias("n"),
    )


def breusch_pagan(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test, studentized (Koenker)
    form (Breusch & Pagan, Econometrica 1979; Koenker, J. Econometrics
    1981): fit OLS, regress the SQUARED residuals on the same
    regressors, and report ``LM = n * R^2_aux`` (chi-square with p
    degrees of freedom under homoskedasticity).

    Two relational passes, both single aggregates: the main-fit Gram
    moments (fixed-order Cramer solve, ml/regression discipline), then
    the auxiliary moments of ``e^2`` with the coefficients embedded as
    exact double literals.  Returns ONE row ``(n, r2_aux, lm_stat,
    dof)`` with r2/LM presentation-rounded (the raw moment sums carry
    partition-order float noise, absorbed at 6/4 decimals — the same
    tolerance class as every regression entry)."""
    from gofast_spark.ml.regression import (
        fit_linear_regression,
        predict_linear,
    )

    feats = list(feature_cols)
    if len(feats) != 2:
        raise ValueError("breusch_pagan supports exactly 2 features")
    cond = F.col(label_col).isNotNull()
    for c in feats:
        cond = cond & F.col(c).isNotNull()
    d = df.where(cond)
    fit = fit_linear_regression(d, feats, label_col, solver="cramer")
    scored = predict_linear(d, fit, feats, out_col="__pred")
    e = F.col(label_col).cast("double") - F.col("__pred")
    d2 = scored.select(*feats, (e * e).alias("__e2"))
    aux = fit_linear_regression(d2, feats, "__e2", solver="cramer")
    lm = aux["n"] * aux["r2"]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(aux["n"], round(aux["r2"], 6), round(lm, 4), len(feats))],
        "n bigint, r2_aux double, lm_stat double, dof int",
    )


def ks_normal_test(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test against the fitted normal
    (Kolmogorov 1933; Lilliefors-style plug-in of the sample mean/sd —
    the distributional companion of the two-sample ks_test): over the
    distinct-value table,

        D+ = max_v ( ECDF(v)      - Phi(z_v) )
        D- = max_v ( Phi(z_v) - ECDF_prev(v) )
        D  = max(D+, D-)

    with ``Phi`` the Abramowitz-Stegun erf polynomial shared with
    ``stats.probs.normal_cdf`` — replayed coefficient-for-coefficient
    by the oracle.  One distinct-value groupBy + one cumulative
    window; the per-value gaps are quantized to ``1/unit`` and the
    final sup is an INTEGER max (deterministic).  Returns ONE row
    ``(n, mu, sd, d_plus_u6, d_minus_u6, d_u6)`` with mu/sd rounded
    to 6 decimals."""
    from gofast_spark.stats.probs import normal_cdf

    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull()).select(v.alias("v"))
    mu, sd = d.agg(F.avg("v"), F.stddev_pop("v")).first()
    mu, sd = float(mu), float(sd)
    per_v = d.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = per_v.select(
        "v",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(tot).alias("nn"),
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_prev"),
    )
    phi = normal_cdf(F.col("v"), mu=mu, sigma=sd)
    nn = F.col("nn").cast("double")

    def q(x):
        return F.floor(x * F.lit(float(unit)) + F.lit(0.5)).cast("bigint")

    gaps = cum.select(
        "nn",
        q(F.col("cum").cast("double") / nn - phi).alias("dp_u"),
        q(phi - F.col("cum_prev").cast("double") / nn).alias("dm_u"),
    )
    agg = gaps.agg(
        F.max("nn").cast("bigint").alias("n"),
        F.max("dp_u").alias("d_plus_u6"),
        F.max("dm_u").alias("d_minus_u6"),
    )
    return agg.select(
        "n",
        F.round(F.lit(mu), 6).cast("double").alias("mu"),
        F.round(F.lit(sd), 6).cast("double").alias("sd"),
        "d_plus_u6",
        "d_minus_u6",
        F.greatest(F.col("d_plus_u6"), F.col("d_minus_u6")).alias("d_u6"),
    )


def poisson_dispersion(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Fisher's dispersion (variance) test for Poisson-distributed
    counts (Fisher 1950; Cox & Lewis, *The Statistical Analysis of
    Series of Events*, 1966): over per-key event counts, the index of
    dispersion ``s^2 / xbar`` and the chi-square statistic
    ``(n - 1) s^2 / xbar`` (df = n - 1) — equidispersion holds under
    Poisson, ``>> 1`` motivates the negative-binomial fit
    (stats/causal.py negbin_fit).

    One groupBy(key) count + one moment aggregate over the per-key
    table.  Counts are integers, so every moment is exact and the
    statistic is deterministic — presented unrounded.  Returns ONE
    row ``(n_keys, total, mean, variance, dispersion_index,
    chi2_stat, dof)``."""
    k = F.col(key_col)
    per = df.where(k.isNotNull()).groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = (F.col("q").cast("double") - n * mean * mean) / (n - F.lit(1.0))
    return agg.select(
        F.col("n").cast("bigint").alias("n_keys"),
        F.col("s").cast("bigint").alias("total"),
        mean.alias("mean"),
        var.alias("variance"),
        (var / mean).alias("dispersion_index"),
        ((n - F.lit(1.0)) * var / mean).alias("chi2_stat"),
        (F.col("n") - 1).cast("bigint").alias("dof"),
    )


def tukey_hsd(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Tukey-Kramer honestly-significant-difference pairwise
    comparisons (Tukey 1949; Kramer, Biometrics 1956 — the unequal-n
    form): for every group pair the mean difference and the
    studentized-range statistic

        q = (ybar_a - ybar_b) / sqrt( MSE/2 * (1/n_a + 1/n_b) )

    with MSE the one-way ANOVA within mean square — the standard
    post-hoc after a significant F (anova_events / welch_anova).

    One groupBy pass builds micro-unit-exact per-group moments; MSE
    comes from the same exact integers; the pairs are a self-join of
    the GROUPS-sized frame (broadcast).  Deterministic, presented
    unrounded.  Returns one row per pair (g_a < g_b): ``(g_a, g_b,
    n_a, n_b, mean_diff, se, q_stat)``."""
    g, v = F.col(group_col), F.col(value_col).cast("double")

    def q6(x):
        return F.floor(x * F.lit(float(unit)) + F.lit(0.5)).cast("bigint")

    per_g = (
        df.where(g.isNotNull() & v.isNotNull())
        .groupBy(g.alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(q6(v).cast("decimal(18,0)")).alias("s_g"),
            F.sum(q6(v * v).cast("decimal(18,0)")).alias("q_g"),
        )
    )
    u = F.lit(float(unit))
    w_all = Window.partitionBy()
    n = F.col("n_g").cast("double")
    mean = F.col("s_g").cast("double") / u / n
    # within-group SS from the group's own exact moments, quantized
    within_u = q6(
        F.col("q_g").cast("double") / u - n * mean * mean
    )
    m = per_g.select(
        "g", "n_g", mean.alias("mu"),
        F.sum(within_u).over(w_all).alias("ssw_u"),
        F.sum("n_g").over(w_all).alias("nn"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    mse = (
        F.col("ssw_u").cast("double") / u
        / (F.col("nn") - F.col("k")).cast("double")
    )
    left = m.select(
        F.col("g").alias("g_a"), F.col("n_g").alias("n_a"),
        F.col("mu").alias("mu_a"), mse.alias("mse"),
    )
    right = m.select(
        F.col("g").alias("g_b"), F.col("n_g").alias("n_b"),
        F.col("mu").alias("mu_b"),
    )
    pairs = left.join(
        F.broadcast(right), F.col("g_a") < F.col("g_b")
    )
    se = F.sqrt(
        F.col("mse") / F.lit(2.0)
        * (F.lit(1.0) / F.col("n_a").cast("double")
           + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    # q is defined on the ABSOLUTE difference (compared against the
    # always-positive studentized-range critical value); the signed
    # difference stays available as mean_diff
    return pairs.select(
        "g_a", "g_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.col("mu_a") - F.col("mu_b")).alias("mean_diff"),
        se.alias("se"),
        (F.abs(F.col("mu_a") - F.col("mu_b")) / se).alias("q_stat"),
    ).orderBy("g_a", "g_b")


def cvm_normal_test(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """One-sample Cramer-von Mises goodness-of-fit against the fitted
    normal (Cramer 1928; von Mises 1928; the quadratic-ECDF companion
    of :func:`ks_normal_test`'s sup form):

        W^2 = 1/(12 n) + sum_i ( Phi(z_(i)) - (2i - 1) / (2n) )^2

    over the value-ordered sample.  Ties are safe: equal values share
    one Phi and the (2i-1)/2n ranks they occupy are the same SET under
    any intra-tie order, so the summed contribution is
    order-invariant.  Each term is quantized to ``1/unit`` before the
    integer sum.  Intended for samples whose distinct support fits an
    ordered window (pre-bin at 100 TB — the ks_test contract).
    Returns ONE row ``(n, mu, sd, w2_u9)``, all NULL when ``value_col``
    has no non-null value."""
    from gofast_spark.stats.probs import normal_cdf

    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull()).select(v.alias("v"))
    mu, sd = d.agg(F.avg("v"), F.stddev_pop("v")).first()
    if mu is None:  # no non-null value: SQL's one all-NULL aggregate row
        return df.sparkSession.createDataFrame(
            [(None, None, None, None)],
            "n bigint, mu double, sd double, w2_u9 bigint",
        )
    mu, sd = float(mu), float(sd)
    w = Window.orderBy("v")
    tot = Window.partitionBy()
    ranked = d.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(tot).alias("nn"),
    )
    phi = normal_cdf(F.col("v"), mu=mu, sigma=sd)
    nn = F.col("nn").cast("double")
    term = phi - (F.lit(2.0) * F.col("i").cast("double") - F.lit(1.0)) / (
        F.lit(2.0) * nn
    )
    qterm = F.floor(
        term * term * F.lit(float(unit)) + F.lit(0.5)
    ).cast("bigint")
    agg = ranked.select("nn", qterm.alias("t")).agg(
        F.max("nn").cast("bigint").alias("n"),
        F.sum("t").alias("su"),
    )
    w2_u9 = (
        F.floor(
            F.lit(1.0)
            / (F.lit(12.0) * F.col("n").cast("double"))
            * F.lit(float(unit))
            + F.lit(0.5)
        ).cast("bigint")
        + F.col("su")
    )
    return agg.select(
        "n",
        F.round(F.lit(mu), 6).cast("double").alias("mu"),
        F.round(F.lit(sd), 6).cast("double").alias("sd"),
        w2_u9.alias("w2_u9"),
    )


def mood_median_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Mood's median test (Mood, *Introduction to the Theory of
    Statistics*, 1950): chi-square independence of group x
    (above / not-above the grand median) — the coarse, outlier-immune
    companion of kruskal_wallis.

    The grand median is the LOWER median (the order statistic at
    ``floor((n+1)/2)``) — an actual data value selected by integer
    rank, so both engines threshold on the identical double (an
    interpolated median is not ulp-stable across engines).  Counts are
    integers; each group's chi-square contribution is one replayed
    expression over integers, u9-quantized before the final integer
    sum.  Returns ONE row ``(n, k_groups, n_above, chi2_u9, dof)``, or
    no row when no row has both a value and a group."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(v.isNotNull() & g.isNotNull()).select(
        g.alias("g"), v.alias("v")
    )
    w = Window.orderBy("v")
    tot = Window.partitionBy()
    ranked = d.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(tot).alias("nn"),
    )
    med_row = ranked.where(
        F.col("i")
        == F.floor(
            (F.col("nn").cast("double") + F.lit(1.0)) / F.lit(2.0)
        ).cast("bigint")
    ).first()
    if med_row is None:  # no non-null (group, value) pair: no groups
        return df.sparkSession.createDataFrame(
            [],
            "n bigint, k_groups bigint, n_above bigint, chi2_u9 bigint, "
            "dof bigint",
        )
    med = float(med_row["v"])
    per = d.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum((F.col("v") > F.lit(med)).cast("bigint")).alias("a_g"),
    )
    wall = Window.partitionBy()
    m = per.select(
        "g", "n_g", "a_g",
        F.sum("n_g").over(wall).alias("n"),
        F.sum("a_g").over(wall).alias("a"),
        F.count(F.lit(1)).over(wall).alias("k"),
    )
    ng = F.col("n_g").cast("double")
    n = F.col("n").cast("double")
    a = F.col("a").cast("double")
    e1 = ng * a / n
    e0 = ng * (n - a) / n
    o1 = F.col("a_g").cast("double")
    o0 = (F.col("n_g") - F.col("a_g")).cast("double")
    contrib = (o1 - e1) * (o1 - e1) / e1 + (o0 - e0) * (o0 - e0) / e0
    agg = m.select(
        "n", "a", "k",
        F.floor(contrib * F.lit(float(unit)) + F.lit(0.5))
        .cast("bigint").alias("cq"),
    ).groupBy("n", "a", "k").agg(F.sum("cq").alias("chi2_u9"))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("a").cast("bigint").alias("n_above"),
        "chi2_u9",
        (F.col("k") - 1).cast("bigint").alias("dof"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across k
    groups (Jonckheere, Biometrika 1954; Terpstra 1952): the sum of
    pairwise Mann-Whitney counts between every ordered group pair
    (group order = lexicographic on ``group_col``).  Reported as the
    tie-exact DOUBLED statistic

        JT2 = sum_{a<b} sum_v [ 2 c_b(v) A_a(<v) + c_a(v) c_b(v) ]

    (twice ``#{x_a < x_b} + #{x_a = x_b}/2``) so everything stays an
    INTEGER, plus the normal approximation z from the no-tie moments
    (Lehmann, *Nonparametrics*, 1975).

    Relational shape: one (value, group) contingency, a dense
    ``distinct-values x k`` grid (window cumulatives per group — the
    ks_by_group pattern; pre-bin values at 100 TB), and a grid
    self-join on value for the k(k-1)/2 ordered pairs.  Returns ONE
    row ``(n, k_groups, jt2, mean2, z)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(v.isNotNull() & g.isNotNull()).select(
        g.alias("g"), v.alias("v")
    )
    cnt = d.groupBy("v", "g").agg(F.count(F.lit(1)).alias("c"))
    vals = d.select("v").distinct()
    groups = d.select("g").distinct()
    grid = vals.crossJoin(F.broadcast(groups))
    cell = grid.join(cnt, ["v", "g"], "left").select(
        "v", "g", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    wg = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cell.select(
        "v", "g", "c",
        F.coalesce(F.sum("c").over(wg), F.lit(0)).alias("cum_prev"),
    )
    left = cum.select(
        F.col("v").alias("va"), F.col("g").alias("ga"),
        F.col("c").alias("ca"), F.col("cum_prev").alias("cpa"),
    )
    right = cum.select(
        F.col("v").alias("vb"), F.col("g").alias("gb"),
        F.col("c").alias("cb"),
    )
    pairs = left.join(
        right,
        (F.col("va") == F.col("vb")) & (F.col("ga") < F.col("gb")),
    )
    jt2_row = pairs.agg(
        F.sum(
            F.lit(2) * F.col("cb") * F.col("cpa")
            + F.col("ca") * F.col("cb")
        ).alias("jt2")
    )
    sizes = d.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"))
    mom = sizes.agg(
        F.sum("n_g").alias("n"),
        F.sum(F.col("n_g") * F.col("n_g")).alias("s2"),
        F.sum(
            F.col("n_g") * F.col("n_g")
            * (F.lit(2) * F.col("n_g") + F.lit(3))
        ).alias("s3"),
        F.count(F.lit(1)).alias("k"),
    )
    j = jt2_row.crossJoin(mom)
    n = F.col("n").cast("double")
    mean2 = (n * n - F.col("s2").cast("double")) / F.lit(2.0)
    var = (
        n * n * (F.lit(2.0) * n + F.lit(3.0))
        - F.col("s3").cast("double")
    ) / F.lit(72.0)
    z = (F.col("jt2").cast("double") / F.lit(2.0) - mean2 / F.lit(2.0)) / F.sqrt(var)
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("jt2").cast("bigint").alias("jt2"),
        mean2.alias("mean2"),
        z.alias("z"),
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L trend test for ordered treatments in a randomized
    block design (Page, JASA 1963): within each complete block the
    values are ranked (AVERAGE ranks on ties, carried doubled so they
    stay integers), and

        L = sum_j j * R_j

    over treatments in their natural order, with the normal
    approximation ``z = (L - mu_L) / sd_L``,
    ``mu_L = b k (k+1)^2 / 4``, ``Var L = b k^2 (k+1)(k^2-1) / 144``
    (no-tie moments).  Only blocks containing ALL k treatments enter
    (k = the global distinct treatment count).  Everything up to z is
    integer arithmetic: ranks via min-rank + tie-count (both
    engine-deterministic), L carried doubled (L2).  Returns ONE row
    ``(b_blocks, k_treatments, l2, z)``."""
    b = F.col(block_col)
    t = F.col(treatment_col)
    v = F.col(value_col).cast("double")
    d = df.where(b.isNotNull() & t.isNotNull() & v.isNotNull()).select(
        b.alias("b"), t.alias("t"), v.alias("v")
    )
    k_global = d.select("t").distinct().count()
    wb = Window.partitionBy("b")
    complete = (
        d.withColumn(
            "k_b", F.size(F.collect_set("t").over(wb))
        )
        .where(F.col("k_b") == k_global)
        .drop("k_b")
    )
    wr = Window.partitionBy("b").orderBy("v")
    wt = Window.partitionBy("b", "v")
    ranked = complete.select(
        "b", "t",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).alias("r2"),
    )
    wt_ord = Window.orderBy("t")
    per_t = ranked.groupBy("t").agg(F.sum("r2").alias("rr2"))
    idx = per_t.select(
        "t", "rr2", F.row_number().over(wt_ord).alias("j")
    )
    nb = complete.select("b").distinct().count()
    agg = idx.agg(F.sum(F.col("j") * F.col("rr2")).alias("l2"))
    kk = float(k_global)
    bb = float(nb)
    mean_l2 = bb * kk * (kk + 1.0) * (kk + 1.0) / 2.0
    var_l = bb * kk * kk * (kk + 1.0) * (kk * kk - 1.0) / 144.0
    z = (
        F.col("l2").cast("double") / F.lit(2.0) - F.lit(mean_l2 / 2.0)
    ) / F.lit(math.sqrt(var_l))
    return agg.select(
        F.lit(nb).cast("bigint").alias("b_blocks"),
        F.lit(k_global).cast("bigint").alias("k_treatments"),
        F.col("l2").cast("bigint").alias("l2"),
        z.alias("z"),
    )


def dunn_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Dunn's post-hoc pairwise rank comparisons after Kruskal-Wallis
    (Dunn, Technometrics 1964), with the tie-corrected variance: for
    every group pair

        z = (Rbar_a - Rbar_b)
            / sqrt( (N(N+1)/12 - T/(12(N-1))) (1/n_a + 1/n_b) )

    with ``T = sum_ties (t^3 - t)``.  Ranks are GLOBAL average ranks
    carried DOUBLED (min-rank + tie-count, exact integers); rank sums,
    N, and T are integers, so every z is one replayed expression —
    deterministic, unrounded.  Pairs come from a groups-sized
    broadcast self-join (the tukey_hsd shape).  Returns one row per
    pair (g_a < g_b): ``(g_a, g_b, n_a, n_b, mean_rank_diff, z)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(v.isNotNull() & g.isNotNull()).select(
        g.alias("g"), v.alias("v")
    )
    wr = Window.orderBy("v")
    wt = Window.partitionBy("v")
    ranked = d.select(
        "g",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).alias("r2"),
    )
    per_g = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("r2").alias("sr2"),
    )
    ties = (
        d.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tcorr"),
            F.sum("t").alias("nn"),
        )
    )
    m = per_g.crossJoin(F.broadcast(ties)).select(
        "g", "n_g", "sr2", "tcorr", "nn",
    )
    left = m.select(
        F.col("g").alias("g_a"), F.col("n_g").alias("n_a"),
        F.col("sr2").alias("sr2_a"), "tcorr", "nn",
    )
    right = m.select(
        F.col("g").alias("g_b"), F.col("n_g").alias("n_b"),
        F.col("sr2").alias("sr2_b"),
    )
    pairs = left.join(
        F.broadcast(right), F.col("g_a") < F.col("g_b")
    )
    nn = F.col("nn").cast("double")
    rbar_a = F.col("sr2_a").cast("double") / F.lit(2.0) / F.col(
        "n_a"
    ).cast("double")
    rbar_b = F.col("sr2_b").cast("double") / F.lit(2.0) / F.col(
        "n_b"
    ).cast("double")
    var = (
        nn * (nn + F.lit(1.0)) / F.lit(12.0)
        - F.col("tcorr").cast("double")
        / (F.lit(12.0) * (nn - F.lit(1.0)))
    ) * (
        F.lit(1.0) / F.col("n_a").cast("double")
        + F.lit(1.0) / F.col("n_b").cast("double")
    )
    return pairs.select(
        "g_a", "g_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (rbar_a - rbar_b).alias("mean_rank_diff"),
        ((rbar_a - rbar_b) / F.sqrt(var)).alias("z"),
    ).orderBy("g_a", "g_b")


def kendall_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W across complete blocks
    (Kendall & Babington Smith, Ann. Math. Statist. 1939) — the
    effect-size companion of the Friedman test already in the catalog
    (W = chi2_F / (b (k-1))):

        W = 12 S / ( b^2 k (k^2 - 1) - b T ),
        S = sum_j (R_j - b(k+1)/2)^2

    with ``T = sum_{blocks, ties} (t^3 - t)`` the tie correction.
    Ranks are within-block average ranks carried DOUBLED, so
    ``4 S = sum_j (R2_j - b(k+1))^2`` and every input to W is an exact
    integer — W is ONE division.  Only blocks with all k treatments
    enter.  Returns ONE row ``(b_blocks, k_treatments, s4, w)``."""
    b = F.col(block_col)
    t = F.col(treatment_col)
    v = F.col(value_col).cast("double")
    d = df.where(b.isNotNull() & t.isNotNull() & v.isNotNull()).select(
        b.alias("b"), t.alias("t"), v.alias("v")
    )
    k_global = d.select("t").distinct().count()
    wb = Window.partitionBy("b")
    complete = (
        d.withColumn("k_b", F.size(F.collect_set("t").over(wb)))
        .where(F.col("k_b") == k_global)
        .drop("k_b")
    )
    nb = complete.select("b").distinct().count()
    wr = Window.partitionBy("b").orderBy("v")
    wt = Window.partitionBy("b", "v")
    ranked = complete.select(
        "b", "t", "v",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).alias("r2"),
    )
    tcorr = (
        complete.groupBy("b", "v")
        .agg(F.count(F.lit(1)).alias("tc"))
        .agg(
            F.sum(
                F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")
            ).alias("tsum")
        )
        .first()["tsum"]
    )
    tcorr = int(tcorr)
    per_t = ranked.groupBy("t").agg(F.sum("r2").alias("rr2"))
    center = nb * (k_global + 1)
    s4_row = per_t.agg(
        F.sum(
            (F.col("rr2") - F.lit(center))
            * (F.col("rr2") - F.lit(center))
        ).alias("s4")
    ).first()
    s4 = int(s4_row["s4"])
    denom = (
        nb * nb * k_global * (k_global * k_global - 1)
        - nb * tcorr
    )
    w = 3.0 * float(s4) / float(denom)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(nb, k_global, s4, w)],
        "b_blocks bigint, k_treatments bigint, s4 bigint, w double",
    )


def ansari_bradley(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Ansari-Bradley rank test for a SCALE difference between two
    samples with equal centers (Ansari & Bradley, Ann. Math. Statist.
    1960) — the nonparametric companion of levene/bartlett: scores
    run 1, 2, ... toward the middle from BOTH ends, so a group
    concentrated in the middle (smaller spread) gets a larger score
    sum.

    Midrank scores carried DOUBLED: ``s2 = min(r2, 2(N+1) - r2)``
    with ``r2`` the doubled average rank — exact integers end-to-end.
    The normal approximation uses the classical no-tie moments
    (even/odd N forms; ties are midranked in the statistic but the
    variance is the no-tie one — the conventional large-sample
    report).  Returns ONE row ``(n_a, n_b, ab2, z)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    wr = Window.orderBy("v")
    wt = Window.partitionBy("v")
    ranked = d.select(
        "g",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).alias("r2"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nn"),
    )
    s2 = F.least(
        F.col("r2"),
        F.lit(2) * (F.col("nn") + F.lit(1)) - F.col("r2"),
    )
    agg = ranked.agg(
        F.sum(
            F.when(F.col("g") == group_a, s2).otherwise(F.lit(0))
        ).alias("ab2"),
        F.sum((F.col("g") == group_a).cast("bigint")).alias("n_a"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("n_b"),
        F.max("nn").alias("nn"),
    ).first()
    ab2, n_a, n_b, nn = (
        int(agg["ab2"]), int(agg["n_a"]), int(agg["n_b"]), int(agg["nn"])
    )
    import math

    na, nb_, n = float(n_a), float(n_b), float(nn)
    ab = float(ab2) / 2.0
    if nn % 2 == 0:
        mean = na * (n + 2.0) / 4.0
        var = na * nb_ * (n + 2.0) * (n - 2.0) / (
            48.0 * (n - 1.0)
        )
    else:
        mean = na * (n + 1.0) * (n + 1.0) / (4.0 * n)
        var = na * nb_ * (n + 1.0) * (3.0 + n * n) / (
            48.0 * n * n
        )
    z = (ab - mean) / math.sqrt(var)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n_a, n_b, ab2, round(z, 6))],
        "n_a bigint, n_b bigint, ab2 bigint, z double",
    )


def lepage_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Lepage two-sample test for a LOCATION-OR-SCALE difference
    (Lepage, Biometrika 1971): ``D = z_W^2 + z_AB^2``, the sum of the
    squared standardized Wilcoxon rank-sum (location) and
    Ansari-Bradley (scale) statistics, asymptotically chi-square with
    2 dof.

    Both components ride the doubled-midrank machinery (exact
    integers); z_W uses the tie-corrected rank-sum variance, z_AB the
    classical no-tie even/odd moments (the :func:`ansari_bradley`
    convention).  Returns ONE row
    ``(n_a, n_b, z_wilcoxon, z_ansari, d_stat)``."""
    import math

    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    wr = Window.orderBy("v")
    wt = Window.partitionBy("v")
    ranked = d.select(
        "g",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).alias("r2"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nn"),
    )
    s2 = F.least(
        F.col("r2"),
        F.lit(2) * (F.col("nn") + F.lit(1)) - F.col("r2"),
    )
    agg = ranked.agg(
        F.sum(
            F.when(F.col("g") == group_a, F.col("r2")).otherwise(
                F.lit(0)
            )
        ).alias("w2"),
        F.sum(
            F.when(F.col("g") == group_a, s2).otherwise(F.lit(0))
        ).alias("ab2"),
        F.sum((F.col("g") == group_a).cast("bigint")).alias("n_a"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("n_b"),
        F.max("nn").alias("nn"),
    ).first()
    tie = (
        d.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tc")
        )
        .first()["tc"]
    )
    w2, ab2 = int(agg["w2"]), int(agg["ab2"])
    n_a, n_b, nn = int(agg["n_a"]), int(agg["n_b"]), int(agg["nn"])
    tc = int(tie)
    na, nb_, n = float(n_a), float(n_b), float(nn)
    w = float(w2) / 2.0
    ew = na * (n + 1.0) / 2.0
    vw = na * nb_ / 12.0 * (
        (n + 1.0) - float(tc) / (n * (n - 1.0))
    )
    z_w = (w - ew) / math.sqrt(vw)
    ab = float(ab2) / 2.0
    if nn % 2 == 0:
        eab = na * (n + 2.0) / 4.0
        vab = na * nb_ * (n + 2.0) * (n - 2.0) / (48.0 * (n - 1.0))
    else:
        eab = na * (n + 1.0) * (n + 1.0) / (4.0 * n)
        vab = na * nb_ * (n + 1.0) * (3.0 + n * n) / (
            48.0 * n * n
        )
    z_ab = (ab - eab) / math.sqrt(vab)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(
            n_a, n_b,
            round(z_w, 6), round(z_ab, 6),
            round(z_w * z_w + z_ab * z_ab, 6),
        )],
        "n_a bigint, n_b bigint, z_wilcoxon double,"
        " z_ansari double, d_stat double",
    )


def _haldane_or_exprs(z_crit: float) -> "dict[str, Column]":
    """Shared 2x2 odds-ratio column expressions over integer cell
    columns ``a b c d``: Haldane-Anscombe zero-cell correction, Woolf
    log-OR, its SE, Wald bounds, and the risk ratio — built once so
    the pooled (:func:`odds_ratio_2x2`) and per-stratum
    (:func:`odds_ratio_by_group`) variants cannot drift apart."""
    zero = (
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0)
    )
    corr = F.when(zero, F.lit(0.5)).otherwise(F.lit(0.0))
    a = F.col("a").cast("double") + corr
    b = F.col("b").cast("double") + corr
    c = F.col("c").cast("double") + corr
    d = F.col("d").cast("double") + corr
    log_or = F.log(a) + F.log(d) - F.log(b) - F.log(c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return {
        "zero": zero,
        "log_or": log_or,
        "se": se,
        "or_lo": F.exp(log_or - F.lit(z_crit) * se),
        "or_hi": F.exp(log_or + F.lit(z_crit) * se),
        "risk_ratio": (a / (a + b)) / (c / (c + d)),
    }


def _wilson_bound_exprs(z_crit: float) -> "dict[str, Column]":
    """Shared Wilson score-interval expressions over integer columns
    ``k n`` — one builder for the pooled and per-group variants."""
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    p = k / n
    z = F.lit(z_crit)
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = z * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    return {
        "p_hat": p,
        "wilson_lo": center - half,
        "wilson_hi": center + half,
        "wald_lo": p - z * F.sqrt(p * (1.0 - p) / n),
        "wald_hi": p + z * F.sqrt(p * (1.0 - p) / n),
    }


def odds_ratio_2x2(
    df: DataFrame,
    exposure: Column,
    outcome: Column,
    *,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Epidemiological 2x2 association report: odds ratio and risk
    ratio with Wald log-scale confidence intervals (Woolf 1955; the
    2x2 summary the reference's contingency helpers print next to the
    chi-square, gofast/stats/inferential.py:1496 family).

    ONE aggregate produces the four integer cells

        a = exposed & outcome      b = exposed & ~outcome
        c = unexposed & outcome    d = unexposed & ~outcome

    and every statistic is a closed-form double expression over them:
    OR = ad/bc, RR = (a/(a+b))/(c/(c+d)), SE(log OR) =
    sqrt(1/a+1/b+1/c+1/d), CI = exp(log OR -+ z*SE).  When any cell is
    zero the Haldane-Anscombe +0.5 correction is applied to ALL cells
    (flagged in the ``corrected`` column) so the estimates stay
    finite.  Rows where either column is NULL are excluded."""
    e = exposure.cast("int")
    o = outcome.cast("int")
    base = df.where(e.isNotNull() & o.isNotNull())
    agg = base.agg(
        F.sum(e * o).alias("a"),
        F.sum(e * (1 - o)).alias("b"),
        F.sum((1 - e) * o).alias("c"),
        F.sum((1 - e) * (1 - o)).alias("d"),
    )
    e_ = _haldane_or_exprs(z_crit)
    return agg.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
        F.col("d").cast("bigint").alias("d"),
        F.exp(e_["log_or"]).alias("odds_ratio"),
        e_["log_or"].alias("log_or"),
        e_["se"].alias("se_log_or"),
        e_["or_lo"].alias("or_lo"),
        e_["or_hi"].alias("or_hi"),
        e_["risk_ratio"].alias("risk_ratio"),
        e_["zero"].cast("int").alias("corrected"),
    )


def fligner_killeen(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    quantize: int = 1000,
) -> DataFrame:
    """Fligner-Killeen test of homogeneity of variances (Fligner &
    Killeen, JASA 1976; Conover, Johnson & Johnson 1981's normal-score
    form) — the rank-based, median-centred companion of
    :func:`levene_test` and Bartlett: robust to non-normality because
    it ranks |x - median_g| and scores the ranks through the normal
    quantile a(r) = Phi^{-1}(1/2 + r/(2(N+1))).

    Determinism and scale shape:
    - values quantize to ``1/quantize`` units (integer grid; the
      declared tie contract, both engines identical);
    - the per-group centre is the LOWER MEDIAN selected by integer
      rank on a per-group distinct-value cumulative frame (group x
      distinct-value sized, the ks_test pattern — never a full-table
      rank window);
    - pooled midranks of d = |x - med_g| run over the DISTINCT-d
      frame (doubled to stay integer: r2 = 2*cum_less + n_d + 1);
    - each normal score is u6-quantized (floor(a*1e6 + 0.5)) so every
      cross-row sum is INTEGER and commutes across partitions;
    - the between-group numerator uses staged floor division
      (floor(s_g^2 / n_g), error < 1 in u6^2-space per group) so even
      the group-level combine is pure integer arithmetic.

    Returns one row ``(fk_stat, dof, n_groups, n)``; the statistic is
    asymptotically chi-square with k-1 dof."""
    x = F.floor(
        F.col(value_col).cast("double") * F.lit(float(quantize)) + F.lit(0.5)
    ).cast("bigint")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), x.alias("__x"))

    # lower median per group by integer rank over the (g, x) grid
    gx = base.groupBy("__g", "__x").agg(F.count(F.lit(1)).alias("__c"))
    wg = Window.partitionBy("__g").orderBy("__x")
    cum = F.sum("__c").over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("__c").over(Window.partitionBy("__g"))
    med = (
        gx.select("__g", "__x", cum.alias("__cum"), tot.alias("__ng"))
        .where(F.col("__cum") * 2 >= F.col("__ng"))
        .groupBy("__g")
        .agg(F.min("__x").alias("__med"))
    )

    centred = base.join(F.broadcast(med), "__g").select(
        "__g", F.abs(F.col("__x") - F.col("__med")).alias("__d")
    )
    # pin the (group x distinct-d) grid: dd/scores (whose broadcast
    # replays the lineage) and per_g both consume it, and its lineage
    # is the corpus centring pass
    gd, _ = pin(
        centred.groupBy("__g", "__d").agg(F.count(F.lit(1)).alias("__c")),
        "fligner:grid",
    )
    dd = gd.groupBy("__d").agg(F.sum("__c").alias("__cd"))
    w = Window.orderBy("__d").rowsBetween(Window.unboundedPreceding, -1)
    r2 = (
        F.coalesce(F.sum("__cd").over(w), F.lit(0)) * 2
        + F.col("__cd")
        + 1
    )
    n_tot = F.sum("__cd").over(Window.partitionBy())
    from gofast_spark.stats.probs import normal_ppf

    p = 0.5 + r2.cast("double") / (
        4.0 * (n_tot.cast("double") + 1.0)
    )
    a_u6 = F.floor(normal_ppf(p) * 1e6 + F.lit(0.5)).cast("bigint")
    scores = dd.select(
        "__d",
        "__cd",
        a_u6.alias("__a"),
    )
    per_g = (
        gd.join(F.broadcast(scores.select("__d", "__a")), "__d")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__c").cast("decimal(19,0)") * F.col("__a")).alias(
                "__sg"
            ),
            F.sum("__c").alias("__ng"),
        )
    )
    # exact floor division via the modulo identity (all operands
    # positive: FK scores are Phi^{-1}(p > 1/2) > 0, so sums are
    # positive and truncation == floor): a plain decimal divide
    # HALF_UP-rounds at scale 6 BEFORE floor, which can tip a
    # .9999995 fraction over the integer boundary DuckDB's `//`
    # truncates under — the modulo form divides exactly.
    def _floordiv(num, den):
        return (num - num % den) / den

    sg2 = F.col("__sg").cast("decimal(38,0)") * F.col("__sg")
    stat = per_g.agg(
        F.sum(_floordiv(sg2, F.col("__ng"))).alias("__sq"),
        F.sum("__sg").alias("__s"),
        F.sum("__ng").alias("__n"),
        F.count(F.lit(1)).alias("__k"),
    )
    ss = scores.agg(
        F.sum(
            F.col("__cd").cast("decimal(19,0)")
            * F.col("__a")
            * F.col("__a")
        ).alias("__ss")
    )
    j = stat.crossJoin(F.broadcast(ss))
    s2 = F.col("__s").cast("decimal(38,0)") * F.col("__s")
    s2n = (s2 - s2 % F.col("__n")) / F.col("__n")
    num = (F.col("__sq") - s2n).cast("double")
    var = (F.col("__ss") - s2n).cast("double") / (
        F.col("__n").cast("double") - 1.0
    )
    return j.select(
        (num / var).alias("fk_stat"),
        (F.col("__k") - 1).cast("bigint").alias("dof"),
        F.col("__k").cast("bigint").alias("n_groups"),
        F.col("__n").cast("bigint").alias("n"),
    )


def _merged_ecdf_quadratic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    quantize: int,
    weight: str,
) -> DataFrame:
    """Shared two-sample quadratic-ECDF scaffold for
    :func:`energy_distance_1d` (weight='gap': each squared ECDF gap
    weighted by the distance to the next distinct value — the
    integral form) and :func:`cvm_two_sample` (weight='count': each
    squared gap weighted by the pooled multiplicity at the value —
    the per-observation form).  One groupBy over the quantized
    distinct-value grid, one cumulative window, one broadcast totals
    spine; every summand is the exact integer
    (ca*nb - cb*na)^2 * weight.  Returns one row
    ``(__s, __na, __nb)``."""
    x = F.floor(
        F.col(value_col).cast("double") * F.lit(float(quantize)) + F.lit(0.5)
    ).cast("bigint")
    src = df.where(
        F.col(group_col).isin(group_a, group_b)
        & F.col(value_col).isNotNull()
    ).select(
        x.alias("__v"),
        (F.col(group_col) == group_a).cast("int").alias("__ia"),
    )
    pv = src.groupBy("__v").agg(
        F.sum("__ia").alias("__a"),
        F.sum(1 - F.col("__ia")).alias("__b"),
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if weight == "gap":
        wcol = F.lead("__v").over(Window.orderBy("__v")) - F.col("__v")
    else:
        wcol = F.col("__a") + F.col("__b")
    cum = pv.select(
        F.sum("__a").over(w).alias("__ca"),
        F.sum("__b").over(w).alias("__cb"),
        wcol.alias("__w"),
    )
    if weight == "gap":
        cum = cum.where(F.col("__w").isNotNull())
    tot = src.agg(
        F.sum("__ia").alias("__na"),
        F.sum(1 - F.col("__ia")).alias("__nb"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    diff = (
        F.col("__ca").cast("decimal(19,0)") * F.col("__nb")
        - F.col("__cb").cast("decimal(19,0)") * F.col("__na")
    )
    return j.agg(
        F.sum((diff * diff).cast("decimal(38,0)") * F.col("__w")).alias(
            "__s"
        ),
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
    )


def energy_distance_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    quantize: int = 1000,
) -> DataFrame:
    """One-dimensional energy distance between two samples (Szekely &
    Rizzo 2004) via the closed-form CDF identity

        D^2(F, G) = 2 * integral (F(t) - G(t))^2 dt

    — the L2 companion of the sup-norm KS and rank-sum U tests,
    sensitive to BOTH location and scale differences.  Between
    consecutive distinct values the ECDF gap is constant, so the
    integral is an exact sum over the merged distinct-value grid:

        D^2 = 2 * sum_i (ca_i * nb - cb_i * na)^2 * gap_i
                  / (na^2 * nb^2 * quantize)

    with ca/cb cumulative group counts — ALL integer arithmetic
    (decimal-widened products) until the single final division.
    Values quantize to ``1/quantize`` units (the declared grid, both
    engines identical); the cumulative window runs over the
    distinct-value frame only (the ks_test pattern: pre-bin at 100-TB
    scale)."""
    agg = _merged_ecdf_quadratic(
        df, value_col, group_col, group_a, group_b,
        quantize=quantize, weight="gap",
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    d2 = (
        2.0
        * F.col("__s").cast("double")
        / (na * na * nb * nb * F.lit(float(quantize)))
    )
    return agg.select(
        d2.alias("d2_energy"),
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
    )


def wilson_interval(
    df: DataFrame,
    success: Column,
    *,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a binomial proportion
    (Wilson, JASA 1927) next to the Wald interval it dominates
    (Brown, Cai & DasGupta 2001's recommendation) — the
    boundary-safe CI the catalog's two_proportion z-test lacks:

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    ONE aggregate to the integer pair (k, n); every interval bound is
    a closed-form double over those two integers."""
    s = success.cast("int")
    agg = df.where(s.isNotNull()).agg(
        F.sum(s).alias("k"), F.count(F.lit(1)).alias("n")
    )
    e_ = _wilson_bound_exprs(z_crit)
    return agg.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        e_["p_hat"].alias("p_hat"),
        e_["wilson_lo"].alias("wilson_lo"),
        e_["wilson_hi"].alias("wilson_hi"),
        e_["wald_lo"].alias("wald_lo"),
        e_["wald_hi"].alias("wald_hi"),
    )


def cohens_h(
    df: DataFrame,
    group_col: Column,
    success: Column,
) -> DataFrame:
    """Cohen's h effect size for two proportions (Cohen 1988 ch. 6):
    the arcsine-stabilized difference

        h = 2 asin(sqrt(p1)) - 2 asin(sqrt(p2))

    — the magnitude companion of the two-proportion z-test (variance
    of the arcsine transform is 1/4n regardless of p, so h is
    comparable across baselines).  ``group_col`` must be a boolean
    column expression (True -> group 1); one aggregate to four
    integers, closed-form doubles after."""
    g = group_col.cast("int")
    s = success.cast("int")
    agg = df.where(g.isNotNull() & s.isNotNull()).agg(
        F.sum(g * s).alias("k1"),
        F.sum(g).alias("n1"),
        F.sum((1 - g) * s).alias("k2"),
        F.sum(1 - g).alias("n2"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("k2").cast("double") / F.col("n2").cast("double")
    h = 2.0 * F.asin(F.sqrt(p1)) - 2.0 * F.asin(F.sqrt(p2))
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        p1.alias("p1"),
        p2.alias("p2"),
        h.alias("h"),
    )


def cochran_mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test and Mantel-Haenszel pooled odds
    ratio for a 2x2 association across strata (Cochran 1954; Mantel
    & Haenszel, JNCI 1959) — the confounder-adjusted companion of
    :func:`odds_ratio_2x2`: each stratum contributes its own 2x2
    table, so a stratum-correlated confounder cannot fake (or mask)
    the pooled association:

        CMH   = (|sum_k (a_k - E_k)| - 1/2)^2 / sum_k Var_k
        OR_MH = sum_k (a_k d_k / n_k) / sum_k (b_k c_k / n_k)

    with E_k = (a+b)(a+c)/n and Var_k = (a+b)(c+d)(a+c)(b+d) /
    (n^2 (n-1)).  ONE groupBy produces the per-stratum integer
    cells; every stratum-level rational term is u6-quantized (floor
    (x * 1e6)) before the cross-stratum sum, so the combine is pure
    integer arithmetic and commutes.  Returns one row ``(cmh_stat,
    or_mh, sum_a, sum_e, n_strata, n)``."""
    e = exposure.cast("int")
    o = outcome.cast("int")
    per = (
        df.where(
            e.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("__k"))
        .agg(
            F.sum(e * o).alias("a"),
            F.sum(e * (1 - o)).alias("b"),
            F.sum((1 - e) * o).alias("c"),
            F.sum((1 - e) * (1 - o)).alias("d"),
        )
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    n = a + b + c + d
    e_k = (a + b) * (a + c) / n
    var_k = (
        (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0))
    )
    u = F.lit(1e6)
    terms = per.where((a + b + c + d) > 1).select(
        F.col("a"),
        F.floor(e_k * u).cast("bigint").alias("e_u6"),
        F.floor(var_k * u).cast("bigint").alias("v_u6"),
        F.floor(a * d / n * u).cast("bigint").alias("r_u6"),
        F.floor(b * c / n * u).cast("bigint").alias("s_u6"),
        (a + b + c + d).cast("bigint").alias("n_k"),
    )
    agg = terms.agg(
        F.sum("a").alias("sum_a"),
        F.sum("e_u6").alias("sum_e"),
        F.sum("v_u6").alias("sum_v"),
        F.sum("r_u6").alias("sum_r"),
        F.sum("s_u6").alias("sum_s"),
        F.count(F.lit(1)).alias("k"),
        F.sum("n_k").alias("n"),
    )
    # Continuity correction clamped at zero: when |sum_a - sum_e| < 0.5
    # the corrected deviation is 0, not a squared negative that would
    # inflate the statistic away from its null value (r11 ADVICE).
    dev = F.greatest(
        F.abs(
            F.col("sum_a").cast("double")
            - F.col("sum_e").cast("double") / 1e6
        )
        - F.lit(0.5),
        F.lit(0.0),
    )
    cmh = dev * dev / (F.col("sum_v").cast("double") / 1e6)
    or_mh = F.when(
        F.col("sum_s") > 0,
        F.col("sum_r").cast("double") / F.col("sum_s").cast("double"),
    )
    return agg.select(
        cmh.alias("cmh_stat"),
        or_mh.alias("or_mh"),
        F.col("sum_a").cast("bigint").alias("sum_a"),
        (F.col("sum_e").cast("double") / 1e6).alias("sum_e"),
        F.col("k").cast("bigint").alias("n_strata"),
        F.col("n").cast("bigint").alias("n"),
    )


def wilson_interval_by_group(
    df: DataFrame,
    group_col: str,
    success: Column,
    *,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Per-group :func:`wilson_interval`: one groupBy to the integer
    (k, n) pairs, closed-form bounds per row — the per-segment
    proportion readout (per-arm conversion, per-source pass-rate)."""
    s = success.cast("int")
    agg = (
        df.where(s.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.sum(s).alias("k"), F.count(F.lit(1)).alias("n"))
    )
    e_ = _wilson_bound_exprs(z_crit)
    return agg.select(
        group_col,
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        e_["p_hat"].alias("p_hat"),
        e_["wilson_lo"].alias("wilson_lo"),
        e_["wilson_hi"].alias("wilson_hi"),
    )


def odds_ratio_by_group(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
    *,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Per-stratum 2x2 odds ratios with Wald log-intervals — the
    stratum table :func:`cochran_mantel_haenszel` pools; reading both
    shows WHERE the association lives and whether pooling is honest
    (see :func:`breslow_day` for the formal homogeneity test).  Same
    cell construction and Haldane-Anscombe zero-cell rule as
    :func:`odds_ratio_2x2`, per group."""
    e = exposure.cast("int")
    o = outcome.cast("int")
    agg = (
        df.where(
            e.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull()
        )
        .groupBy(stratum_col)
        .agg(
            F.sum(e * o).alias("a"),
            F.sum(e * (1 - o)).alias("b"),
            F.sum((1 - e) * o).alias("c"),
            F.sum((1 - e) * (1 - o)).alias("d"),
        )
    )
    e_ = _haldane_or_exprs(z_crit)
    return agg.select(
        stratum_col,
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
        F.col("d").cast("bigint").alias("d"),
        F.exp(e_["log_or"]).alias("odds_ratio"),
        e_["or_lo"].alias("or_lo"),
        e_["or_hi"].alias("or_hi"),
        e_["zero"].cast("int").alias("corrected"),
    )


def breslow_day(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Breslow-Day test of odds-ratio homogeneity across strata with
    Tarone's correction (Breslow & Day 1980 vol. 1 §4.4; Tarone,
    Biometrika 1985) — the pre-condition check for pooling via
    :func:`cochran_mantel_haenszel`: under a COMMON odds ratio psi
    (the Mantel-Haenszel estimate), each stratum's expected exposed
    -case count a~ solves the margin-preserving quadratic

        (psi - 1) a~^2 - [psi (r1 + c1) + (r0 - c1)] a~
                       + psi r1 c1 = 0

    (the root keeping all four cells positive), with Var(a~) =
    1 / (1/a~ + 1/b~ + 1/c~ + 1/d~) and

        X^2_BD = sum_k (a_k - a~_k)^2 / Var_k
                 - (sum_k (a_k - a~_k))^2 / sum_k Var_k   (Tarone)

    asymptotically chi-square with k-1 dof.  Stage 1 computes psi
    (one u6-quantized aggregate, the CMH discipline); stage 2
    broadcasts it back to the stratum-sized frame; every stratum
    -level double term is u6-quantized before the final sum so the
    combine is pure integer arithmetic.  Returns one row ``(bd_stat,
    dof, psi_mh, n_strata, n)``."""
    e = exposure.cast("int")
    o = outcome.cast("int")
    per = (
        df.where(
            e.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("__k"))
        .agg(
            F.sum(e * o).alias("a"),
            F.sum(e * (1 - o)).alias("b"),
            F.sum((1 - e) * o).alias("c"),
            F.sum((1 - e) * (1 - o)).alias("d"),
        )
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    n = a + b + c + d
    u = F.lit(1e6)
    mh = per.where(n > 1).agg(
        F.sum(F.floor(a * d / n * u).cast("bigint")).alias("sum_r"),
        F.sum(F.floor(b * c / n * u).cast("bigint")).alias("sum_s"),
    )
    psi = (
        F.col("sum_r").cast("double") / F.col("sum_s").cast("double")
    ).alias("__psi")
    j = per.crossJoin(F.broadcast(mh.select(psi)))
    r1 = a + b
    r0 = c + d
    c1 = a + c
    p = F.col("__psi")
    qa = p - 1.0
    qb = -(p * (r1 + c1) + (r0 - c1))
    qc = p * r1 * c1
    disc = F.sqrt(qb * qb - 4.0 * qa * qc)
    # psi == 1 exactly degenerates the quadratic to the linear
    # independence expectation r1*c1/n (measure-zero but guarded so
    # both engines take the same branch)
    at = F.when(
        F.abs(qa) < F.lit(1e-12), r1 * c1 / n
    ).otherwise((-qb - disc) / (2.0 * qa))
    bt = r1 - at
    ct = c1 - at
    dt = r0 - ct
    var = 1.0 / (1.0 / at + 1.0 / bt + 1.0 / ct + 1.0 / dt)
    # strata with a zero cell are excluded from the BD sum: the
    # margin-preserving root can land on a boundary there and the
    # fitted-cell reciprocals blow up (ANSI divide-by-zero rule);
    # such strata still inform psi via the MH stage above.
    pos = (
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    )
    terms = j.where((n > 1) & pos).select(
        F.floor((a - at) * u).cast("bigint").alias("dev_u6"),
        F.floor((a - at) * (a - at) / var * u).cast("bigint").alias(
            "chi_u6"
        ),
        F.floor(var * u).cast("bigint").alias("var_u6"),
        (a + b + c + d).cast("bigint").alias("n_k"),
        F.col("__psi"),
    )
    agg = terms.agg(
        F.sum("chi_u6").alias("s_chi"),
        F.sum("dev_u6").alias("s_dev"),
        F.sum("var_u6").alias("s_var"),
        F.count(F.lit(1)).alias("k"),
        F.sum("n_k").alias("n"),
        F.max("__psi").alias("psi"),
    )
    dev = F.col("s_dev").cast("double") / 1e6
    bd = (
        F.col("s_chi").cast("double") / 1e6
        - dev * dev / (F.col("s_var").cast("double") / 1e6)
    )
    return agg.select(
        bd.alias("bd_stat"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.col("psi").alias("psi_mh"),
        F.col("k").cast("bigint").alias("n_strata"),
        F.col("n").cast("bigint").alias("n"),
    )


def cvm_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    quantize: int = 1000,
) -> DataFrame:
    """Two-sample Cramer-von Mises criterion (Anderson, Ann. Math.
    Statist. 1962) in the ECDF form

        T = (n m / N^2) * sum_k cnt_k * (F(x_k) - G(x_k))^2

    summed over the pooled sample (per distinct value, weighted by
    its multiplicity) — the quadratic companion of the sup-norm KS
    and the gap-weighted energy distance, more sensitive to
    distributed small departures than either.

    Same machinery as :func:`energy_distance_1d`: cumulative group
    counts over the merged distinct-value grid, every term the exact
    integer (ca*nb - cb*na)^2 * cnt, one final division
    T = nm * S / (N^2 na^2 nb^2).  Values quantize to
    ``1/quantize`` units (the declared grid)."""
    agg = _merged_ecdf_quadratic(
        df, value_col, group_col, group_a, group_b,
        quantize=quantize, weight="count",
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    nn = na + nb
    t = (
        na
        * nb
        * F.col("__s").cast("double")
        / (nn * nn * na * na * nb * nb)
    )
    return agg.select(
        t.alias("t_cvm"),
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
    )


def ancova_oneway(
    df: DataFrame,
    value_col: str,
    covariate_col: str,
    group_col: str,
    *,
    y_quantize: int = 1000,
    x_quantize: int = 1,
) -> DataFrame:
    """One-way ANCOVA: the group-effect F test on means ADJUSTED for
    one covariate (Fisher 1932 ch. VIII; the reference's ANOVA family
    extended by a nuisance regressor):

        E__ = within-group corrected sums (pooled over groups)
        T__ = total corrected sums
        SSe_w = Eyy - Exy^2/Exx         df = N - k - 1
        SSe_t = Tyy - Txy^2/Txx         df = N - 2
        F = ((SSe_t - SSe_w)/(k - 1)) / (SSe_w/(N - k - 1))

    ONE groupBy collects per-group integer moments; each group's
    rational corrected term is u6-quantized before the cross-group
    sum (the CMH combine discipline), so the pooled E-terms are
    integers; the total T-terms come from the same moments.  Returns
    one row ``(f_stat, dof_between, dof_within, slope_within, k,
    n)``."""
    y = F.floor(
        F.col(value_col).cast("double") * F.lit(float(y_quantize))
        + F.lit(0.5)
    ).cast("bigint")
    xq = F.floor(
        F.col(covariate_col).cast("double") * F.lit(float(x_quantize))
        + F.lit(0.5)
    ).cast("bigint")
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(covariate_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), y.alias("__y"), xq.alias("__x"))

    def d(c):
        return F.col(c).cast("decimal(19,0)")

    per = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("__x")).alias("sx"),
        F.sum(d("__y")).alias("sy"),
        F.sum(d("__x") * F.col("__x")).alias("sxx"),
        F.sum(d("__x") * F.col("__y")).alias("sxy"),
        F.sum(d("__y") * F.col("__y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    # corrected sums live on the quantized-product scale (>= 1e6 for
    # any non-degenerate group), so INTEGER-unit flooring keeps the
    # relative quantization error below 1e-6 while never overflowing
    # int64 the way a *1e6 rescale would on a 1e17-sized moment
    terms = per.select(
        "n", "sx", "sy", "sxx", "sxy", "syy",
        F.floor(F.col("sxx").cast("double") - sx * sx / n)
        .cast("bigint")
        .alias("exx_q"),
        F.floor(F.col("sxy").cast("double") - sx * sy / n)
        .cast("bigint")
        .alias("exy_q"),
        F.floor(F.col("syy").cast("double") - sy * sy / n)
        .cast("bigint")
        .alias("eyy_q"),
    )
    agg = terms.agg(
        F.sum("exx_q").alias("exx"),
        F.sum("exy_q").alias("exy"),
        F.sum("eyy_q").alias("eyy"),
        F.sum("n").alias("nn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
        F.sum("syy").alias("tsyy"),
        F.count(F.lit(1)).alias("k"),
    )
    nn = F.col("nn").cast("double")
    tsx = F.col("tsx").cast("double")
    tsy = F.col("tsy").cast("double")
    exx = F.col("exx").cast("double")
    exy = F.col("exy").cast("double")
    eyy = F.col("eyy").cast("double")
    txx = F.col("tsxx").cast("double") - tsx * tsx / nn
    txy = F.col("tsxy").cast("double") - tsx * tsy / nn
    tyy = F.col("tsyy").cast("double") - tsy * tsy / nn
    sse_w = eyy - exy * exy / exx
    sse_t = tyy - txy * txy / txx
    k = F.col("k").cast("double")
    f = ((sse_t - sse_w) / (k - 1.0)) / (
        sse_w / (nn - k - 1.0)
    )
    # exy/exx is in (y*y_quantize) per (x*x_quantize) units; rescale
    # back to original y-per-x
    slope = exy / exx * F.lit(float(x_quantize) / float(y_quantize))
    return agg.select(
        f.alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("dof_between"),
        (F.col("nn").cast("bigint") - F.col("k") - 1).alias("dof_within"),
        slope.alias("slope_within"),
        F.col("k").cast("bigint").alias("k"),
        F.col("nn").cast("bigint").alias("n"),
    )
