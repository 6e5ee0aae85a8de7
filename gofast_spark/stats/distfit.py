"""Parametric distribution fitting and goodness-of-fit, Spark-first.

The reference wraps scipy's fitters and normality tests behind eager
NumPy helpers (``NormalityTests.anderson_darling_test``,
gofast/stats/evaluation.py:928; ``check_and_fix_distributions`` style
usage throughout gofast/stats/descriptive.py).  Here every fit is a
closed-form aggregate over sufficient statistics — one scan, no driver
iteration — so the same plan runs unchanged on a 1000-executor cluster:

- log-normal MLE: the MLE of (mu, sigma) is the mean/sd of ln(x) —
  one aggregate over per-row quantized logs.
- gamma method-of-moments: shape = mean^2/var, scale = var/mean from
  micro-unit-exact moments (Johnson, Kotz & Balakrishnan 1994).
- Pareto tail (Hill 1975): alpha = k / sum ln(x_i / x_(k+1)) over the
  top-k order statistics — a top-k window, never a full sort shuffle
  to the driver.
- Anderson-Darling A^2 (Anderson & Darling 1952; Stephens 1974 for the
  fitted-parameter case): the single-pass form
  ``-n - (1/n) sum_i [(2i-1) ln Phi(z_i) + (2(n-i)+1) ln(1-Phi(z_i))]``
  with the shared Abramowitz-Stegun erf polynomial
  (stats/probs.normal_cdf).

Determinism discipline (the catalog's transcendental-output rule):
every per-row transcendental (ln, Phi) is quantized to a fixed unit
BEFORE the integer sum, so cross-engine 1-ulp libm differences cannot
accumulate; derived ratios are single replayed IEEE expressions over
exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _q(x, unit: float):
    """HALF-UP quantization to 1/unit as bigint (engine-portable)."""
    return F.floor(x * F.lit(unit) + F.lit(0.5)).cast("bigint")


def lognormal_fit(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Log-normal maximum-likelihood fit over the positive values of
    ``value_col``: mu = mean(ln x), sigma = sd_pop(ln x) (the MLE —
    Johnson, Kotz & Balakrishnan 1994, ch. 14), plus the implied
    median ``exp(mu)`` quantized to micro-units.

    Per-row ln(x) and ln(x)^2 are u6-quantized before decimal-exact
    sums (decimal(28,0) buffer — exact far above 100-TB row counts);
    mu/sigma are single divisions of those integers.  Returns ONE row
    ``(n, mu_ln, sigma_ln, median_u6)``."""
    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull() & (v > 0)).select(v.alias("v"))
    lnv = F.log("v")
    agg = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_q(lnv, float(unit)).cast("decimal(18,0)")).alias("su"),
        F.sum(_q(lnv * lnv, float(unit)).cast("decimal(18,0)")).alias("sq"),
    )
    u = F.lit(float(unit))
    n = F.col("n").cast("double")
    mu = F.col("su").cast("double") / u / n
    var = F.col("sq").cast("double") / u / n - mu * mu
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        mu.alias("mu_ln"),
        F.sqrt(var).alias("sigma_ln"),
        _q(F.exp(mu), float(unit)).alias("median_u6"),
    )


def gamma_mom_fit(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Gamma fit by the method of moments (Johnson, Kotz &
    Balakrishnan 1994, ch. 17): ``shape = mean^2 / var``,
    ``scale = var / mean`` with the SAMPLE variance, over positive
    values.

    Micro-unit-exact first/second moments (per-row u6 integers summed
    in a decimal(28,0) buffer — exact to ~1e28, above any 100-TB
    second-moment total for values up to ~1e3; larger domains drop
    ``unit``).  All outputs are replayed single-expression IEEE
    arithmetic over the exact integers — deterministic, unrounded.
    Returns ONE row ``(n, mean, variance, shape, scale)``."""
    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull() & (v > 0)).select(v.alias("v"))
    agg = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_q(F.col("v"), float(unit)).cast("decimal(18,0)")).alias("s"),
        F.sum(
            _q(F.col("v") * F.col("v"), float(unit)).cast("decimal(18,0)")
        ).alias("q"),
    )
    u = F.lit(float(unit))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / u / n
    var = (F.col("q").cast("double") / u - n * mean * mean) / (
        n - F.lit(1.0)
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        mean.alias("mean"),
        var.alias("variance"),
        (mean * mean / var).alias("shape"),
        (var / mean).alias("scale"),
    )


def pareto_tail_fit(
    df: DataFrame,
    value_col: str,
    order_cols: "list[str]",
    *,
    k: int = 1000,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Hill estimator of the Pareto tail index (Hill, Ann. Statist.
    1975): over the top ``k+1`` order statistics,

        alpha_hat = k / sum_{i=1..k} ln( x_(i) / x_(k+1) )

    with ``x_(k+1)`` the threshold.  The top-(k+1) selection ranks by
    ``(value DESC, *order_cols)`` so ties at the boundary resolve
    deterministically on both engines.  Per-row log-ratios are
    u9-quantized before the integer sum; alpha is one division.  At
    scale the rank window is a top-k — Spark's TakeOrderedAndProject
    path, never a full global sort.  Returns ONE row
    ``(k, x_threshold, alpha)``."""
    v = F.col(value_col).cast("double")
    w = Window.orderBy(
        F.col("v").desc(), *[F.col(c) for c in order_cols]
    )
    d = (
        df.where(v.isNotNull() & (v > 0))
        .select(v.alias("v"), *order_cols)
        .withColumn("i", F.row_number().over(w))
        .where(F.col("i") <= k + 1)
    )
    thr = d.agg(F.min(F.when(F.col("i") == k + 1, F.col("v")))).first()[0]
    if thr is None:
        raise ValueError(
            f"pareto_tail_fit: fewer than k+1={k + 1} positive rows"
        )
    thr = float(thr)
    lnq = _q(F.log(F.col("v") / F.lit(thr)), float(unit))
    agg = d.where(F.col("i") <= k).agg(F.sum(lnq).alias("su"))
    return agg.select(
        F.lit(k).cast("bigint").alias("k"),
        F.lit(thr).cast("double").alias("x_threshold"),
        (
            F.lit(float(k)) * F.lit(float(unit))
            / F.col("su").cast("double")
        ).alias("alpha"),
    )


def anderson_darling_normal(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """Anderson-Darling goodness-of-fit against the fitted normal
    (Anderson & Darling 1952; the Lilliefors-style plug-in of sample
    mu/sd per Stephens 1974; reference:
    gofast/stats/evaluation.py:928 ``anderson_darling_test`` wraps
    scipy.stats.anderson), in the single-pass form

        A^2 = -n - (1/n) sum_i [ (2i-1) ln Phi(z_(i))
                                 + (2(n-i)+1) ln(1 - Phi(z_(i))) ]

    with ``Phi`` the shared Abramowitz-Stegun erf polynomial.  Ties
    are safe: equal values share one Phi and occupy the same SET of
    ranks under any intra-tie order, so the summed contribution is
    order-invariant.  Phi is clamped to [1e-12, 1-1e-12] before ln
    (both engines).  Each summand is u6-quantized before the integer
    sum; A^2 is then a replayed expression over (n, sum).  Intended
    for samples whose support fits an ordered window (pre-bin at
    100 TB — the ks_test contract).  Returns ONE row
    ``(n, mu, sd, a2)``."""
    from gofast_spark.stats.probs import normal_cdf

    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull()).select(v.alias("v"))
    mu, sd = d.agg(F.avg("v"), F.stddev_pop("v")).first()
    mu, sd = float(mu), float(sd)
    w = Window.orderBy("v")
    tot = Window.partitionBy()
    ranked = d.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(tot).alias("nn"),
    )
    phi = normal_cdf(F.col("v"), mu=mu, sigma=sd)
    phi_c = F.least(
        F.greatest(phi, F.lit(1e-12)), F.lit(1.0 - 1e-12)
    )
    i = F.col("i").cast("double")
    nn = F.col("nn").cast("double")
    summand = (F.lit(2.0) * i - F.lit(1.0)) * F.log(phi_c) + (
        F.lit(2.0) * (nn - i) + F.lit(1.0)
    ) * F.log(F.lit(1.0) - phi_c)
    agg = ranked.select(
        "nn", _q(summand, float(unit)).alias("t")
    ).agg(
        F.max("nn").cast("bigint").alias("n"),
        F.sum("t").alias("su"),
    )
    a2 = (
        -F.col("n").cast("double")
        - F.col("su").cast("double")
        / F.lit(float(unit))
        / F.col("n").cast("double")
    )
    return agg.select(
        "n",
        F.round(F.lit(mu), 6).cast("double").alias("mu"),
        F.round(F.lit(sd), 6).cast("double").alias("sd"),
        a2.alias("a2"),
    )


def shapiro_francia(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
    value_unit: int = 100,
) -> DataFrame:
    """Shapiro-Francia normality statistic (Shapiro & Francia, JASA
    1972 — the large-n simplification of Shapiro-Wilk, whose exact
    coefficients need the order-statistic covariance matrix; the
    reference wraps scipy's Shapiro-Wilk,
    gofast/stats/evaluation.py:923):

        W' = ( sum_i m_i x_(i) )^2 / ( sum_i m_i^2 * sum_i (x_i - xbar)^2 )

    with Blom scores ``m_i = Phi^{-1}((i - 3/8) / (n + 1/4))`` through
    the shared Acklam inverse-normal polynomial (stats/probs
    normal_ppf).  W' is the squared correlation between the sample
    order statistics and their expected normal scores — near 1 under
    normality.

    Ties are safe (equal x share the value; the m_i they receive are
    the same SET under any intra-tie order, and only sums over the tie
    block enter).  m_i is u6-quantized and x ``value_unit``-quantized
    per row, so every sum is an exact integer and W' one replayed
    expression — deterministic, unrounded.  Ordered-window form (the
    ks_test pre-bin contract at 100 TB).  Returns ONE row
    ``(n, w_prime)``."""
    from gofast_spark.stats.probs import normal_ppf

    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull()).select(v.alias("v"))
    w = Window.orderBy("v")
    tot = Window.partitionBy()
    ranked = d.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(tot).alias("nn"),
    )
    p_i = (F.col("i").cast("double") - F.lit(0.375)) / (
        F.col("nn").cast("double") + F.lit(0.25)
    )
    m_u = _q(normal_ppf(p_i), float(unit))
    x_u = _q(F.col("v"), float(value_unit))
    agg = ranked.select(
        m_u.alias("m"), x_u.alias("x")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("m") * F.col("x")).alias("sxm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    uu = float(unit) * float(value_unit)
    num = F.col("sxm").cast("double") / F.lit(uu)
    den = (
        F.col("smm").cast("double") / F.lit(float(unit) * float(unit))
    ) * (
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
            / F.col("n").cast("double")
        )
        / F.lit(float(value_unit) * float(value_unit))
    )
    return agg.select("n", (num * num / den).alias("w_prime"))


def _cbrt(v: float) -> float:
    """Signed cube root via pow(|v|, 1/3) — the SQL replay uses the
    same sign * power(abs(x), 1.0/3.0) form (NOT a cbrt builtin, whose
    libm path can differ by an ulp from pow)."""
    import math

    return math.copysign(abs(v) ** (1.0 / 3.0), v)


def dagostino_k2(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 1_000_000,
) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test (D'Agostino 1970
    for the skewness transform; Anscombe & Glynn 1983 for kurtosis;
    D'Agostino, Belanger & D'Agostino 1990 for the omnibus; reference:
    gofast/stats/evaluation.py:904 ``NormalityTests`` — this is the
    moments-based member scipy calls ``normaltest``):

        K^2 = z1(g1)^2 + z2(b2)^2 ~ chi2(2)

    with g1 the sample skewness and b2 the kurtosis, each transformed
    to approximate normality.

    One mu/sd aggregate, then ONE pass summing u6-quantized z^3 / z^4
    — g1 and b2 are single divisions of exact integers; the scalar
    transform chain runs on the driver and is replayed
    expression-for-expression by the oracle (signed-pow cube root,
    never a cbrt builtin).  Returns ONE row
    ``(n, g1, b2, z_skew, z_kurt, k2)``.  Raises ``ValueError`` below 8
    non-null values, where the skewness transform is undefined (scipy's
    ``skewtest`` minimum; the SQL replay fails there too)."""
    import math

    v = F.col(value_col).cast("double")
    d = df.where(v.isNotNull()).select(v.alias("v"))
    mu, sd, n0 = d.agg(F.avg("v"), F.stddev_pop("v"), F.count("v")).first()
    if n0 < 8:
        raise ValueError(
            f"dagostino_k2 needs at least 8 non-null values of "
            f"{value_col!r}, got {n0}"
        )
    mu, sd = float(mu), float(sd)
    z = (F.col("v") - F.lit(mu)) / F.lit(sd)
    agg = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_q(z * z * z, float(unit))).alias("s3"),
        F.sum(_q(z * z * z * z, float(unit))).alias("s4"),
    ).first()
    n = float(agg["n"])
    u = float(unit)
    g1 = float(agg["s3"]) / u / n
    b2 = float(agg["s4"]) / u / n
    # --- skewness transform (D'Agostino 1970) ---
    y = g1 * math.sqrt(((n + 1.0) * (n + 3.0)) / (6.0 * (n - 2.0)))
    beta2 = (
        3.0
        * (n * n + 27.0 * n - 70.0)
        * (n + 1.0)
        * (n + 3.0)
        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    )
    w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1.0))
    delta = 1.0 / math.sqrt(0.5 * math.log(w2))
    alpha = math.sqrt(2.0 / (w2 - 1.0))
    z1 = delta * math.log(
        y / alpha + math.sqrt((y / alpha) * (y / alpha) + 1.0)
    )
    # --- kurtosis transform (Anscombe & Glynn 1983) ---
    eb2 = 3.0 * (n - 1.0) / (n + 1.0)
    vb2 = (
        24.0
        * n
        * (n - 2.0)
        * (n - 3.0)
        / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    )
    x = (b2 - eb2) / math.sqrt(vb2)
    sb1 = (
        6.0
        * (n * n - 5.0 * n + 2.0)
        / ((n + 7.0) * (n + 9.0))
        * math.sqrt(
            6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0))
        )
    )
    a = 6.0 + 8.0 / sb1 * (
        2.0 / sb1 + math.sqrt(1.0 + 4.0 / (sb1 * sb1))
    )
    z2 = (
        (1.0 - 2.0 / (9.0 * a))
        - _cbrt(
            (1.0 - 2.0 / a)
            / (1.0 + x * math.sqrt(2.0 / (a - 4.0)))
        )
    ) / math.sqrt(2.0 / (9.0 * a))
    k2 = z1 * z1 + z2 * z2
    spark = df.sparkSession
    return spark.createDataFrame(
        [(
            int(n),
            round(g1, 6),
            round(b2, 6),
            round(z1, 4),
            round(z2, 4),
            round(k2, 4),
        )],
        "n bigint, g1 double, b2 double, z_skew double,"
        " z_kurt double, k2 double",
    )
