"""Descriptive statistics (SURVEY §2.4 descriptive row, §2.10).

Reference: gofast/stats/descriptive.py — mean:1580, median:1436, mode:664,
var:780, std:923, quartiles:1084, quantile:1232, iqr:1781, get_range:2069,
hmean:1916, wmedian:517, skew:251, kurtosis:390, gini_coeffs:51,
z_scores:2356, corr:177, describe:2224.

Everything is a Spark aggregation or window expression; nothing leaves the
JVM.  Exact percentiles by default for oracle parity; callers pass
``exact=False`` for the sketch-based scale path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def describe(df: DataFrame, columns: Sequence[str], *, exact: bool = True) -> DataFrame:
    """count/mean/std/min/q1/median/q3/max per column, one row per column.

    Reference: ``describe`` (gofast/stats/descriptive.py:2224) — pandas
    ``df.describe()`` semantics.
    """
    pf = F.percentile if exact else F.percentile_approx
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__count_{c}"),
            F.avg(col).alias(f"__mean_{c}"),
            F.stddev_samp(col).alias(f"__std_{c}"),
            F.min(col).alias(f"__min_{c}"),
            pf(col, 0.25).alias(f"__q1_{c}"),
            pf(col, 0.5).alias(f"__med_{c}"),
            pf(col, 0.75).alias(f"__q3_{c}"),
            F.max(col).alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    stacked = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__count_{c}").cast("bigint").alias("count"),
            F.col(f"__mean_{c}").cast("double").alias("mean"),
            F.col(f"__std_{c}").cast("double").alias("std"),
            F.col(f"__min_{c}").cast("double").alias("min"),
            F.col(f"__q1_{c}").cast("double").alias("q1"),
            F.col(f"__med_{c}").cast("double").alias("median"),
            F.col(f"__q3_{c}").cast("double").alias("q3"),
            F.col(f"__max_{c}").cast("double").alias("max"),
        )
        for c in columns
    ]
    return row.select(F.explode(F.array(*stacked)).alias("s")).select("s.*")


def quartiles(df: DataFrame, column: str, *, exact: bool = True) -> DataFrame:
    pf = F.percentile if exact else F.percentile_approx
    c = F.col(column)
    return df.agg(
        pf(c, 0.25).alias("q1"), pf(c, 0.5).alias("q2"), pf(c, 0.75).alias("q3")
    )


def iqr(df: DataFrame, column: str, *, exact: bool = True) -> DataFrame:
    pf = F.percentile if exact else F.percentile_approx
    c = F.col(column)
    return df.agg((pf(c, 0.75) - pf(c, 0.25)).alias("iqr"))


def get_range(df: DataFrame, column: str) -> DataFrame:
    c = F.col(column)
    return df.agg((F.max(c) - F.min(c)).alias("range"))


def hmean(df: DataFrame, column: str) -> DataFrame:
    """Harmonic mean: n / sum(1/x) (gofast/stats/descriptive.py:1916)."""
    c = F.col(column)
    return df.agg((F.count(c) / F.sum(F.lit(1.0) / c)).alias("hmean"))


def mode_of(df: DataFrame, column: str) -> DataFrame:
    """Most frequent value; ties broken by smallest value (deterministic).

    Reference: ``mode`` (gofast/stats/descriptive.py:664).
    """
    counts = df.groupBy(column).agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy(F.col("__n").desc(), F.col(column).asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(column).alias("mode"))
    )


def gini_coeff(
    df: DataFrame, column: str, *, approx_buckets: int | None = None
) -> DataFrame:
    """Gini coefficient, scale-safe.

    Reference: ``gini_coeffs`` (gofast/stats/descriptive.py:51) sorts the
    raw array.  A raw-table global sort is a single-partition window at
    100 TB, so instead the data is first reduced to **distinct values with
    counts and sums** (one hash aggregation), and the sorted-rank identity
    is evaluated on that reduced set: for a distinct value v with count c
    and m values before it, the ranks m+1..m+c contribute
    ``v * (c*m + c*(c+1)/2)`` to ``sum(i * x_i)``.  The remaining ordered
    window runs over distinct values only.

    ``approx_buckets=B`` first quantizes values into B equal-width buckets
    (bucket mean substitutes for the value) — bounds the distinct set for
    pathological all-unique columns at a documented approximation.
    """
    c = F.col(column)
    src = df.where(c.isNotNull()).select(c.alias("v"))
    if approx_buckets:
        lo, hi = src.agg(F.min("v"), F.max("v")).first()
        width = ((hi - lo) or 1.0) / approx_buckets
        b = F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
            F.lit(approx_buckets - 1),
        )
        src = src.groupBy(b.alias("__b")).agg(
            F.avg("v").alias("v"), F.count(F.lit(1)).alias("c"), F.sum("v").alias("s")
        )
    else:
        src = src.groupBy("v").agg(
            F.count(F.lit(1)).alias("c"), F.sum("v").alias("s")
        )
    w = (
        Window.orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = src.select(
        "v",
        "c",
        "s",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("__m"),
    )
    num = F.sum(
        F.col("v") * (F.col("c") * F.col("__m") + F.col("c") * (F.col("c") + 1) / 2.0)
    )
    n = F.sum("c")
    tot = F.sum(F.col("v") * F.col("c"))
    return cum.agg(
        (F.lit(2.0) * num / (n * tot) - (n + F.lit(1.0)) / n).alias("gini")
    )


def gini_coeff_grouped(
    df: DataFrame, column: str, group_col: str
) -> DataFrame:
    """Per-group Gini coefficients — :func:`gini_coeff`'s
    distinct-value rank identity with every window partitioned by the
    group, so one scan yields each group's inequality measure
    (ref: gini_coeffs, gofast/stats/descriptive.py:51, which sorts one
    raw array at a time driver-side).

    The reduction is per (group, distinct value): the ordered window
    runs over each group's distinct values only, never the raw rows.
    Returns ``(group, gini, n)`` ordered by group."""
    c = F.col(column)
    src = (
        df.where(c.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), c.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = src.select(
        "g", "v", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("__m"),
    )
    num = F.sum(
        F.col("v")
        * (F.col("c") * F.col("__m") + F.col("c") * (F.col("c") + 1) / 2.0)
    )
    n = F.sum("c")
    tot = F.sum(F.col("v") * F.col("c"))
    return (
        cum.groupBy(F.col("g").alias("group"))
        .agg(
            (F.lit(2.0) * num / (n * tot) - (n + F.lit(1.0)) / n).alias(
                "gini"
            ),
            n.cast("bigint").alias("n"),
        )
        .orderBy("group")
    )


def weighted_median(df: DataFrame, value_col: str, weight_col: str) -> DataFrame:
    """Weighted median, scale-safe: weights are first summed per distinct
    value (hash aggregation), then the cumulative-weight window runs over
    the distinct values only — never a raw-table global sort.

    Reference: ``wmedian`` (gofast/stats/descriptive.py:517).  The first
    value whose running weight reaches half the total weight.
    """
    v, wt = F.col(value_col), F.col(weight_col)
    per_val = df.where(v.isNotNull()).groupBy(v.alias("v")).agg(
        F.sum(wt).alias("__w")
    )
    cum = Window.orderBy(F.col("v").asc()).rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cdf = per_val.select(
        "v", (F.sum("__w").over(cum) / F.sum("__w").over(tot)).alias("__cw")
    )
    return (
        cdf.where(F.col("__cw") >= 0.5)
        .agg(F.min("v").alias("weighted_median"))
    )


def corr_matrix(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations, long form (col_a, col_b, corr).

    Reference: ``analyze_data_corr`` (gofast/dataops/quality.py:1863),
    ``corr`` (gofast/stats/descriptive.py:177).  All pairs in ONE
    aggregation pass — n*(n-1)/2 corr aggregates, a single job.
    """
    pairs = [(a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]]
    aggs = [F.corr(a, b).alias(f"{a}__{b}") for a, b in pairs]
    row = df.agg(*aggs)
    stacked = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"{a}__{b}").alias("corr"),
        )
        for a, b in pairs
    ]
    return row.select(F.explode(F.array(*stacked)).alias("s")).select("s.*")


def gumbel_fit(
    df: DataFrame,
    value_col: str,
    *,
    return_periods: "Sequence[int]" = (10, 100),
) -> DataFrame:
    """Gumbel (EV-I) fit of block maxima by the method of moments
    (Gumbel, *Statistics of Extremes*, 1958):

        sigma = s * sqrt(6) / pi,   mu = mean - gamma * sigma

    (gamma = Euler-Mascheroni), plus the T-period return levels
    ``mu - sigma * ln(-ln(1 - 1/T))``.  Feed it a frame of block
    maxima (e.g. daily/annual maxima from one groupBy) — the fit
    itself is ONE moment aggregate, so cost is independent of block
    count.  Returns one row: ``(mu, sigma, n, level_T...)``.
    """
    import math

    x = F.col(value_col).cast("double")
    d = df.where(x.isNotNull())
    agg = d.agg(
        F.avg(x).alias("m"),
        F.stddev_samp(x).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    sigma = F.col("s") * F.lit(math.sqrt(6.0) / math.pi)
    mu = F.col("m") - F.lit(0.5772156649015329) * sigma
    cols = [mu.alias("mu"), sigma.alias("sigma"), F.col("n")]
    for T in return_periods:
        cols.append(
            (
                mu - sigma * F.lit(math.log(-math.log(1.0 - 1.0 / float(T))))
            ).alias(f"level_{T}")
        )
    return agg.select(*cols)


def diversity_indices(
    df: DataFrame, group_col: str, category_col: str
) -> DataFrame:
    """Per-group categorical diversity: Shannon entropy (nats), its
    exponential (Hill number q=1, "effective categories"), the
    UNBIASED Simpson index ``sum n_i(n_i-1) / (N(N-1))`` (Simpson,
    Nature 1949; Hurlbert's finite-sample PIE complement), the
    Herfindahl-Hirschman concentration ``sum (n_i/N)^2``, and richness.

    Shannon uses the exact-integer identity
    ``H = ln N - (1/N) sum n_i ln n_i`` with each ``n_i ln n_i``
    quantized to micro-units before the (category-sized) reduction, so
    every index is partition- and engine-reproducible.  Two hash
    aggregates, no window, no join."""
    counts = (
        df.where(F.col(category_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("g"), F.col(category_col).alias("__c")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    n = F.col("__n")
    per = counts.groupBy("g").agg(
        F.count(F.lit(1)).alias("richness"),
        F.sum(n).alias("__N"),
        F.sum(
            F.floor(n.cast("double") * F.log(n.cast("double"))
                    * F.lit(1e6) + F.lit(0.5)).cast("bigint")
        ).alias("__snln"),
        F.sum((n.cast("decimal(19,0)") * (n - F.lit(1)))).alias("__sp"),
        F.sum((n.cast("decimal(19,0)") * n)).alias("__sq"),
    )
    nn = F.col("__N").cast("double")
    shannon = F.log(nn) - F.col("__snln").cast("double") / F.lit(1e6) / nn
    simpson = F.col("__sp").cast("double") / (
        nn * (nn - F.lit(1.0))
    )
    hhi = F.col("__sq").cast("double") / (nn * nn)
    return per.select(
        "g",
        F.col("richness").cast("bigint").alias("richness"),
        F.col("__N").cast("bigint").alias("n"),
        shannon.alias("shannon"),
        F.exp(shannon).alias("effective_categories"),
        simpson.alias("simpson"),
        hhi.alias("hhi"),
    )


def theil_indices(df: DataFrame, column: str, *, units: float = 1e2) -> DataFrame:
    """Theil's T and L inequality indices over the POSITIVE values of a
    column (Theil, *Economics and Information Theory* 1967; the
    GE(1)/GE(0) generalized-entropy members):

        T = (1/N) sum (x/mu) ln(x/mu) = [sum x ln x]/(N mu) - ln mu
        L = (1/N) sum ln(mu/x)        = ln mu - [sum ln x]/N

    All three reductions are exact-integer: values quantized to
    ``units`` (monetary data is 2-decimal), ``x ln x`` to micro-units,
    ``ln x`` to nano-units — deterministic on any partitioning and
    bit-matched by the SQL oracle.  ONE aggregate."""
    x = F.col(column).cast("double")
    d = df.where(x.isNotNull() & (x > 0)).select(x.alias("__x"))
    xx = F.col("__x")
    agg = d.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.floor(xx * F.lit(units) + F.lit(0.5)).cast("decimal(19,0)")
        ).alias("__sx"),
        F.sum(
            F.floor(xx * F.log(xx) * F.lit(1e6) + F.lit(0.5))
            .cast("decimal(19,0)")
        ).alias("__sxlx"),
        F.sum(
            F.floor(F.log(xx) * F.lit(1e9) + F.lit(0.5))
            .cast("decimal(19,0)")
        ).alias("__slx"),
    )
    n = F.col("__n").cast("double")
    mu = F.col("__sx").cast("double") / F.lit(units) / n
    sxlx = F.col("__sxlx").cast("double") / F.lit(1e6)
    slx = F.col("__slx").cast("double") / F.lit(1e9)
    return agg.select(
        F.col("__n").cast("bigint").alias("n"),
        mu.alias("mean"),
        (sxlx / (n * mu) - F.log(mu)).alias("theil_t"),
        (F.log(mu) - slx / n).alias("theil_l"),
    )


def lorenz_points(
    df: DataFrame,
    column: str,
    *,
    buckets: int = 10,
    units: float = 1e2,
    mode: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Lorenz-curve points at ``buckets`` quantile cuts (Lorenz, JASA
    1905): for each quantile bucket of the NON-NEGATIVE values, the
    cumulative population share and cumulative value share — the
    curve `gini_coeff` integrates.  Bucket sums quantize to exact
    integer units; the cumulative pass is a window over ``buckets``
    rows.

    ``mode`` follows the repo's percentile-switch convention
    (metrics.gains_table, stats/prebin.percentile_expr): ``'exact'``
    assigns buckets by global ``ntile`` (deterministic ceil-division
    parity on both engines, but a total sort); ``'sketch'`` cuts at
    broadcast ``percentile_approx`` boundaries — distributed, no
    global sort, the 100-TB default; ``'auto'`` sketches above the
    100k-row threshold when ``n_rows`` is given."""
    from gofast_spark.stats.prebin import percentile_expr, use_sketch

    sketch = use_sketch(mode, n_rows)
    x = F.col(column).cast("double")
    d = df.where(x.isNotNull() & (x >= 0)).select(x.alias("__x"))
    if sketch:
        qs = [i / buckets for i in range(1, buckets)]
        bounds = d.agg(
            percentile_expr("__x", qs, "sketch", None).alias("__b")
        )
        b = d.crossJoin(F.broadcast(bounds)).select(
            "__x",
            (
                F.lit(1)
                + F.aggregate(
                    "__b",
                    F.lit(0),
                    lambda acc, bd: acc
                    + F.when(F.col("__x") > bd, 1).otherwise(0),
                )
            ).alias("bucket"),
        )
    else:
        b = d.select(
            "__x",
            F.ntile(buckets).over(Window.orderBy("__x")).alias("bucket"),
        )
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.floor(F.col("__x") * F.lit(units) + F.lit(0.5))
            .cast("decimal(19,0)")
        ).alias("__s"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per.agg(
        F.sum("__n").alias("__tn"), F.sum("__s").alias("__ts")
    )
    cum = per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("__n").cast("bigint").alias("n"),
        (F.sum("__n").over(w).cast("double")
         / F.col("__tn").cast("double")).alias("pop_share"),
        (F.sum("__s").over(w).cast("double")
         / F.col("__ts").cast("double")).alias("value_share"),
    )
    return cum


def negbin_fit_moments(df: DataFrame, count_col: str) -> DataFrame:
    """Negative-binomial fit by the method of moments (Anscombe,
    Biometrika 1950) over a non-negative integer column:

        p = m / s2,   r = m^2 / (s2 - m)

    plus the dispersion index ``s2/m`` (the overdispersion readout that
    justifies NB over Poisson) and the zero share.  ONE aggregate of
    exact integer moments (counts are already integers — no
    quantization needed); emits NULL shape parameters when the data is
    under-dispersed (s2 <= m, where NB degenerates to Poisson)."""
    c = F.col(count_col).cast("bigint")
    agg = df.where(c.isNotNull() & (c >= 0)).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(c.cast("decimal(19,0)")).alias("__s"),
        F.sum(c.cast("decimal(19,0)") * c).alias("__ss"),
        F.sum(F.when(c == 0, 1).otherwise(0)).alias("__z"),
    )
    n = F.col("__n").cast("decimal(19,0)")
    nd = F.col("__n").cast("double")
    m = F.col("__s").cast("double") / nd
    s2 = (
        (n * F.col("__ss") - F.col("__s") * F.col("__s")).cast("double")
        / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
    )
    over = s2 > m
    return agg.select(
        F.col("__n").cast("bigint").alias("n"),
        m.alias("mean"),
        s2.alias("var"),
        (s2 / m).alias("dispersion"),
        (F.col("__z").cast("double") / nd).alias("zero_share"),
        F.when(over, m / s2).alias("p"),
        F.when(over, m * m / (s2 - m)).alias("r"),
    )


def trimmed_mean(
    df: DataFrame,
    column: str,
    *,
    p_lo: float = 0.1,
    p_hi: float = 0.9,
    mode: str = "auto",
    n_rows: int | None = None,
    units: float = 1e2,
) -> DataFrame:
    """Trimmed mean — the mean of values strictly inside the
    ``[p_lo, p_hi]`` percentile cuts (Tukey & McLaughlin, Sankhya
    1963; the robust-location companion of winsorization, which CLAMPS
    where this EXCLUDES).  The cuts ride the repo's percentile switch
    (exact below the row threshold, percentile_approx sketch above);
    the mean itself is an exact ``units``-quantized integer sum.
    Output: ``(trimmed_mean, n_kept, n_total, lo_cut, hi_cut)``."""
    from gofast_spark.stats.prebin import percentile_expr

    c = F.col(column).cast("double")
    d = df.where(c.isNotNull()).select(c.alias("__x"))
    cuts = d.agg(
        percentile_expr(F.col("__x"), p_lo, mode, n_rows).alias("__lo"),
        percentile_expr(F.col("__x"), p_hi, mode, n_rows).alias("__hi"),
        F.count(F.lit(1)).alias("__nt"),
    ).select(
        F.col("__lo").cast("double").alias("__lo"),
        F.col("__hi").cast("double").alias("__hi"), "__nt",
    )
    xu = F.floor(F.col("__x") * F.lit(units) + F.lit(0.5)).cast("bigint")
    kept = (
        d.crossJoin(F.broadcast(cuts))
        .where((F.col("__x") >= F.col("__lo"))
               & (F.col("__x") <= F.col("__hi")))
    )
    return kept.agg(
        (F.sum(xu.cast("decimal(38,0)")).cast("double")
         / F.count(F.lit(1)).cast("double") / F.lit(units))
        .alias("trimmed_mean"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.first("__nt").cast("bigint").alias("n_total"),
        F.first("__lo").alias("lo_cut"),
        F.first("__hi").alias("hi_cut"),
    )


def herfindahl_index(
    df: DataFrame,
    value_col: str,
    member_col: str,
    group_cols: Sequence[str] = (),
    *,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index of ``value_col`` shares
    held by ``member_col`` within each group (Herfindahl 1950,
    Hirschman 1945) — the market-concentration companion of the
    catalog's Gini / Theil / Lorenz inequality family:

        HHI = sum_i (s_i)^2,   s_i = member i's share of the group sum

    ranging 1/n (uniform) to 1 (monopoly).  ``n_effective = 1/HHI``
    is the equivalent number of equal members.

    One member-level groupBy then one group-level aggregate; values
    are quantized to integer units so both sums are exact decimals,
    and HHI = sum v_i^2 / (sum v_i)^2 is a single double division —
    share arithmetic never happens per-row.

    Magnitude bound: the squared member total __v^2 is exact only
    while |__v| < ~1.3e19 micro-units (decimal(38,0) holds the
    square of up to ~10^19) — at the default ``quantize=1e6`` that
    is a member total of ~1.3e13 in raw units.  Beyond it the
    product overflows to NULL; rather than silently dropping the
    term (understating HHI), the aggregate counts overflowed
    members and returns NULL hhi/n_effective for the group so the
    failure is loud.  For larger magnitudes pass a smaller
    ``quantize`` (shares are scale-invariant, so this only trades
    quantization precision, not correctness)."""
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(quantize)) + F.lit(0.5)
    ).cast("bigint")
    gcols = list(group_cols)
    per = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*gcols, F.col(member_col).alias("__m"))
        .agg(F.sum(v.cast("decimal(19,0)")).alias("__v"))
    )
    sq = F.col("__v").cast("decimal(38,0)") * F.col("__v")
    agg = per.groupBy(*gcols).agg(
        F.sum(sq).alias("__sq"),
        # a NULL square can only mean decimal overflow (__v itself is
        # never NULL after the isNotNull filter): count them so an
        # out-of-bound member total nulls the index instead of being
        # silently dropped from the sum (r11 ADVICE)
        F.sum(F.when(sq.isNull(), 1).otherwise(0)).alias("__n_overflow"),
        F.sum("__v").alias("__s"),
        F.count(F.lit(1)).alias("n_members"),
    )
    hhi = F.when(
        F.col("__n_overflow") == 0,
        F.col("__sq").cast("double")
        / (F.col("__s").cast("double") * F.col("__s").cast("double")),
    )
    return agg.select(
        *gcols,
        F.col("n_members").cast("bigint").alias("n_members"),
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("n_effective"),
    )


def integer_rank_quantiles(base: DataFrame, k: int) -> DataFrame:
    """Lower order statistics at the k-1 interior quantiles by INTEGER
    rank ceil(i*n/k) — the engine-portable quantile selection shared
    by :func:`robust_quantile_moments` and
    :func:`gofast_spark.stats.evaluation.qq_normal_points`
    (interpolated quantiles are not ulp-stable across engines; an
    integer-rank element is).

    ``base`` must expose ONE quantized bigint column ``__x``.  The
    selection runs on the distinct-value cumulative frame (never a
    full-table sort) against a broadcast (k-1)-row rank spine.
    Returns k-1 rows ``(__i, __n, __q)``."""
    nrow = base.agg(F.count(F.lit(1)).alias("__n"))
    grid = (
        base.groupBy("__x")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "__x",
            F.sum("__c")
            .over(
                Window.orderBy("__x").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("__cum"),
        )
    )
    spark = base.sparkSession
    qs = spark.range(1, k).select(F.col("id").cast("int").alias("__i"))
    pj = qs.crossJoin(F.broadcast(nrow))
    t = F.col("__i").cast("bigint") * F.col("__n") + F.lit(k - 1)
    rank = (t - t % F.lit(k)) / F.lit(k)
    pj = pj.select("__i", "__n", rank.alias("__r"))
    return (
        grid.join(F.broadcast(pj), F.col("__cum") >= F.col("__r"))
        .groupBy("__i", "__n")
        .agg(F.min("__x").alias("__q"))
    )


def robust_quantile_moments(
    df: DataFrame,
    value_col: str,
    *,
    quantize: int = 100,
) -> DataFrame:
    """Quantile-based robust shape report: Bowley's quartile skewness
    (Bowley 1920) and Moors' octile kurtosis (Moors, The Statistician
    1988) — outlier-immune alternatives to the moment skewness/
    kurtosis profile:

        bowley = (Q3 + Q1 - 2 Q2) / (Q3 - Q1)
        moors  = ((E7 - E5) + (E3 - E1)) / (E6 - E2)

    with octiles E1..E7 selected as LOWER order statistics by integer
    rank ceil(i*n/8) on the distinct-value cumulative frame (never a
    full-table sort; both engines pick the identical element).
    Moors' reference value under normality is 1.233.  Returns one row
    ``(n, q1, median, q3, bowley_skew, moors_kurtosis)``."""
    x = F.floor(
        F.col(value_col).cast("double") * F.lit(float(quantize)) + F.lit(0.5)
    ).cast("bigint")
    base = df.where(F.col(value_col).isNotNull()).select(x.alias("__x"))
    emp = integer_rank_quantiles(base, 8)
    one = emp.groupBy("__n").agg(
        *[
            F.max(F.when(F.col("__i") == i, F.col("__q"))).alias(f"e{i}")
            for i in range(1, 8)
        ]
    )
    q = F.lit(float(quantize))

    def e(i):
        return F.col(f"e{i}").cast("double")

    # zero interquartile range (constant-ish column): NULL shape
    # statistics per the ANSI divide-by-zero rule
    iqr_pos = F.col("e6") > F.col("e2")
    bowley = F.when(iqr_pos, (e(6) + e(2) - 2.0 * e(4)) / (e(6) - e(2)))
    moors = F.when(
        iqr_pos, ((e(7) - e(5)) + (e(3) - e(1))) / (e(6) - e(2))
    )
    return one.select(
        F.col("__n").cast("bigint").alias("n"),
        (e(2) / q).alias("q1"),
        (e(4) / q).alias("median"),
        (e(6) / q).alias("q3"),
        bowley.alias("bowley_skew"),
        moors.alias("moors_kurtosis"),
    )


def design_effect_stratified(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
    *,
    quantize: int = 100,
) -> DataFrame:
    """Design effects of stratified sampling for the mean (Kish,
    *Survey Sampling* 1965 §3.1; Cochran 1977 ch. 5) — how much a
    proportional or Neyman-optimal stratified design beats simple
    random sampling on this population:

        deff_prop   = sum_h W_h S_h^2 / S^2
        deff_neyman = (sum_h W_h S_h)^2 / S^2

    with W_h = N_h/N and S the overall sd.  ONE groupBy collects
    per-stratum integer moments; each stratum's W_h S_h^2 and W_h S_h
    term is u6-quantized before the cross-stratum sum (the CMH
    combine discipline).  deff <= 1 always for Neyman; the gap to 1
    is the payoff :func:`gofast_spark.operators.sampling.
    neyman_sample` captures.  Returns one row ``(n, n_strata,
    deff_prop, deff_neyman, sd_overall)``."""
    x = F.floor(
        F.col(value_col).cast("double") * F.lit(float(quantize)) + F.lit(0.5)
    ).cast("bigint")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(stratum_col).isNotNull()
    ).select(F.col(stratum_col).alias("__h"), x.alias("__x"))
    per = base.groupBy("__h").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("__x").cast("decimal(19,0)")).alias("s_h"),
        F.sum(F.col("__x").cast("decimal(19,0)") * F.col("__x")).alias(
            "ss_h"
        ),
    )
    nh = F.col("n_h").cast("double")
    var_h = (
        F.col("ss_h").cast("double")
        - F.col("s_h").cast("double") * F.col("s_h").cast("double") / nh
    ) / (nh - 1.0)
    # the variance term lives on the squared-quantized scale (>= 1e6
    # for any non-degenerate stratum), so INTEGER-unit flooring keeps
    # its relative error under 1e-6 without the int64 overflow a *1e6
    # rescale would hit on 1e17-sized n_h * var products; the sd term
    # is linear-scale and safely carries u6
    terms = per.where(F.col("n_h") > 1).select(
        "n_h", "s_h", "ss_h",
        F.floor(nh * var_h).cast("bigint").alias("wv_q"),
        F.floor(nh * F.sqrt(var_h) * F.lit(1e6)).cast("bigint").alias(
            "ws_u6"
        ),
    )
    agg = terms.agg(
        # decimal(38,0) sums: the per-stratum integer terms are up to
        # ~1e17-1e18 at 10x data scale, so an int64 sum overflows under
        # ANSI while DuckDB's HUGEINT does not — widen to match (exact;
        # only double-derived columns are output).  Caught by the r14
        # sf0.1 differential sweep.
        F.sum(F.col("wv_q").cast("decimal(38,0)")).alias("swv"),
        F.sum(F.col("ws_u6").cast("decimal(38,0)")).alias("sws"),
        F.sum("n_h").alias("n"),
        F.sum("s_h").alias("s"),
        F.sum("ss_h").alias("ss"),
        F.count(F.lit(1)).alias("k"),
    )
    n = F.col("n").cast("double")
    var_all = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / n
    ) / (n - 1.0)
    # the u6 stratum terms carry an extra n_h weight: divide by N to
    # recover sum_h W_h * term
    wv = F.col("swv").cast("double") / n
    ws = F.col("sws").cast("double") / 1e6 / n
    q = F.lit(float(quantize))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("n_strata"),
        (wv / var_all).alias("deff_prop"),
        (ws * ws / var_all).alias("deff_neyman"),
        (F.sqrt(var_all) / q).alias("sd_overall"),
    )


def capture_recapture(
    df: DataFrame,
    id_col: str,
    in_first: Column,
    in_second: Column,
) -> DataFrame:
    """Chapman's bias-corrected Lincoln-Petersen capture-recapture
    estimate of a population's total size from two overlapping
    observation windows (Chapman 1951; Seber, *Estimation of Animal
    Abundance* 1982):

        N_hat = (n1 + 1)(n2 + 1)/(m + 1) - 1
        SE    = sqrt((n1+1)(n2+1)(n1-m)(n2-m) / ((m+1)^2 (m+2)))

    — the audience/crawl-coverage estimator: how many distinct
    members exist in total given two partial sightings (the dedup
    family's population-size counterpart).  ONE groupBy(id) collapses
    to per-member presence flags; the three counts and both closed
    forms follow from one aggregate of integers."""
    per = (
        df.where(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(
            F.max(in_first.cast("int")).alias("__a"),
            F.max(in_second.cast("int")).alias("__b"),
        )
    )
    agg = per.agg(
        F.sum("__a").alias("n1"),
        F.sum("__b").alias("n2"),
        F.sum(F.col("__a") * F.col("__b")).alias("m"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    n_hat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    se = F.sqrt(
        (n1 + 1.0)
        * (n2 + 1.0)
        * (n1 - m)
        * (n2 - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("m").cast("bigint").alias("m"),
        n_hat.alias("n_hat"),
        se.alias("se"),
    )


def atkinson_index(
    df: DataFrame,
    value_col: str,
    *,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Atkinson inequality index at aversion epsilon = 1 (Atkinson,
    JET 1970): A = 1 - geometric_mean / arithmetic_mean — the
    welfare-weighted member of the Gini/Theil/Lorenz/HHI family
    (A is the share of total income society would give up for
    perfect equality under log utility).  Requires strictly positive
    values; non-positive rows are excluded (``n`` reports the kept
    positive-row count only).

    One aggregate: ln x is u6-quantized per row so the log sum is
    integer (commutes); the arithmetic mean rides exact micro-unit
    decimals; A = 1 - exp(S_ln/1e6/n) / mean is one closed-form
    double."""
    v = F.col(value_col).cast("double")
    pos = df.where(v > 0)
    lnq = F.floor(F.log(v) * F.lit(1e6)).cast("bigint")
    mu = F.floor(v * F.lit(float(quantize)) + F.lit(0.5)).cast("bigint")
    agg = pos.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lnq.cast("decimal(19,0)")).alias("sln"),
        F.sum(mu.cast("decimal(19,0)")).alias("s"),
    )
    n = F.col("n").cast("double")
    geo = F.exp(F.col("sln").cast("double") / 1e6 / n)
    mean = F.col("s").cast("double") / n / F.lit(float(quantize))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        (1.0 - geo / mean).alias("atkinson_1"),
        geo.alias("geo_mean"),
        mean.alias("mean"),
    )
