"""Outlier handling (SURVEY §2.8) — two-pass Estimator pattern:
pass 1 computes bounds (quantiles / mean+std) as one aggregation,
pass 2 applies clip/remove/replace lazily (SURVEY §4.2.3)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bounds(
    df: DataFrame,
    columns: Sequence[str],
    method: str,
    factor: float,
    quantiles: tuple[float, float],
    exact: bool,
) -> dict[str, tuple[float | None, float | None]]:
    """One aggregation pass -> {col: (lo, hi)}.  A column with no non-null
    value (an empty frame) has NULL bounds, which clip nothing."""
    aggs = []
    qlo, qhi = quantiles
    for c in columns:
        if method == "iqr":
            pf = F.percentile if exact else F.percentile_approx
            aggs += [
                pf(F.col(c), 0.25).alias(f"__q1_{c}"),
                pf(F.col(c), 0.75).alias(f"__q3_{c}"),
            ]
        elif method == "zscore":
            aggs += [F.avg(c).alias(f"__mu_{c}"), F.stddev_samp(c).alias(f"__sd_{c}")]
        elif method == "winsorize":
            pf = F.percentile if exact else F.percentile_approx
            aggs += [
                pf(F.col(c), qlo).alias(f"__lo_{c}"),
                pf(F.col(c), qhi).alias(f"__hi_{c}"),
            ]
        else:
            raise ValueError(f"unsupported method {method!r}")
    row = df.agg(*aggs).first()
    out = {}
    for c in columns:
        if method == "iqr":
            q1, q3 = row[f"__q1_{c}"], row[f"__q3_{c}"]
            if q1 is None:
                out[c] = (None, None)
            else:
                iqr = q3 - q1
                out[c] = (q1 - factor * iqr, q3 + factor * iqr)
        elif method == "zscore":
            mu, sd = row[f"__mu_{c}"], row[f"__sd_{c}"] or 0.0
            if mu is None:
                out[c] = (None, None)
            else:
                out[c] = (mu - factor * sd, mu + factor * sd)
        else:
            out[c] = (row[f"__lo_{c}"], row[f"__hi_{c}"])
    return out


def handle_outliers_in(
    df: DataFrame,
    columns: Sequence[str],
    *,
    method: str = "iqr",
    action: str = "clip",
    factor: float = 1.5,
    quantiles: tuple[float, float] = (0.01, 0.99),
    exact: bool = True,
) -> DataFrame:
    """Clip (winsorize) / remove / replace outliers.

    Reference: ``handle_outliers_in`` (gofast/dataops/quality.py:615),
    ``OutlierHandler`` strategies IQR/z-score/winsorize
    (gofast/transformers/feature_engineering.py:78,
    gofast/utils/base_utils.py:566).

    ``exact=True`` uses exact percentiles for oracle parity (the reference
    uses exact numpy quantiles); flip to approx for the 100 TB path
    (SURVEY §7.3.7).
    """
    bounds = _bounds(df, columns, method, factor, quantiles, exact)
    out = df
    if action == "clip":
        for c, (lo, hi) in bounds.items():
            col = F.col(c)
            out = out.withColumn(
                c,
                F.when(col < lo, F.lit(lo))
                .when(col > hi, F.lit(hi))
                .otherwise(col),
            )
        return out
    if action == "remove":
        cond = None
        for c, (lo, hi) in bounds.items():
            ok = (F.col(c) >= lo) & (F.col(c) <= hi) | F.col(c).isNull()
            cond = ok if cond is None else (cond & ok)
        return out.where(cond)
    if action in ("replace_mean", "replace_median"):
        fn = (
            (lambda c: F.avg(c))
            if action == "replace_mean"
            else (lambda c: F.percentile(c, 0.5))
        )
        stats = df.agg(*[fn(F.col(c)).alias(c) for c in columns]).first()
        for c, (lo, hi) in bounds.items():
            col = F.col(c)
            out = out.withColumn(
                c, F.when((col < lo) | (col > hi), F.lit(stats[c])).otherwise(col)
            )
        return out
    raise ValueError(f"unsupported action {action!r}")


class OutlierHandler:
    """Estimator-pattern outlier handler: ``fit`` learns the per-column
    bounds on one frame, ``transform`` applies them to another — the
    train/test split semantics the functional :func:`handle_outliers_in`
    cannot express (its bounds always come from the frame it modifies).

    Reference: ``OutlierHandler``
    (gofast/transformers/feature_engineering.py:78) — sklearn
    BaseEstimator/TransformerMixin over in-memory arrays; here ``fit`` is
    one aggregation pass and ``transform`` is a pure projection (no
    action), so a fitted handler can be applied to any number of frames
    without rescanning the training data.
    """

    def __init__(
        self,
        columns: Sequence[str],
        *,
        method: str = "iqr",
        action: str = "clip",
        factor: float = 1.5,
        quantiles: tuple[float, float] = (0.01, 0.99),
        exact: bool = True,
    ):
        self.columns = list(columns)
        self.method = method
        self.action = action
        self.factor = factor
        self.quantiles = quantiles
        self.exact = exact
        self.bounds_: dict[str, tuple[float, float]] | None = None

    def fit(self, df: DataFrame) -> "OutlierHandler":
        self.bounds_ = _bounds(
            df, self.columns, self.method, self.factor, self.quantiles,
            self.exact,
        )
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.bounds_ is None:
            raise RuntimeError("OutlierHandler.transform before fit")
        out = df
        if self.action == "clip":
            for c, (lo, hi) in self.bounds_.items():
                col = F.col(c)
                out = out.withColumn(
                    c,
                    F.when(col < lo, F.lit(lo))
                    .when(col > hi, F.lit(hi))
                    .otherwise(col),
                )
            return out
        if self.action == "remove":
            cond = None
            for c, (lo, hi) in self.bounds_.items():
                ok = (F.col(c) >= lo) & (F.col(c) <= hi) | F.col(c).isNull()
                cond = ok if cond is None else (cond & ok)
            return out.where(cond)
        raise ValueError(f"unsupported action {self.action!r}")

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)


def mad_outliers(
    df: DataFrame,
    value_col: str,
    *,
    by: "str | None" = None,
    threshold: float = 3.5,
    mode: str = "auto",
    n_rows: "int | None" = None,
) -> DataFrame:
    """Modified z-score outlier flags via the median absolute deviation
    (Iglewicz & Hoaglin, "How to Detect and Handle Outliers", ASQC
    1993): ``mz = 0.6745 * (x - median) / MAD``, flag ``|mz| >
    threshold`` (3.5 is their recommendation).  Robust where the
    classic z-score (quality/outliers.handle_outliers_in zscore mode)
    is itself dragged by the outliers.

    Two percentile aggregates (median, then median of |x - median|) —
    per ``by``-group when given, so the medians distribute across
    groups; both route through the repo's exact/sketch percentile
    switch (stats/prebin.percentile_expr) so no single reducer buffers
    an unbounded value list at scale.  Appends ``mz`` and
    ``is_outlier``; zero-MAD groups flag nothing (mz = 0)."""
    from gofast_spark.stats.prebin import percentile_expr

    x = F.col(value_col).cast("double")
    keys = [by] if by else []
    med = (
        df.where(x.isNotNull())
        .groupBy(*keys)
        .agg(
            percentile_expr(x, F.lit(0.5), mode, n_rows)
            .cast("double")
            .alias("__med")
        )
    )
    if keys:
        j = df.join(F.broadcast(med), keys, "left")
    else:
        j = df.crossJoin(F.broadcast(med))
    mad = (
        j.where(x.isNotNull())
        .groupBy(*keys)
        .agg(
            percentile_expr(
                F.abs(x - F.col("__med")), F.lit(0.5), mode, n_rows
            )
            .cast("double")
            .alias("__mad")
        )
    )
    if keys:
        out = j.join(F.broadcast(mad), keys, "left")
    else:
        out = j.crossJoin(F.broadcast(mad))
    mz = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * (x - F.col("__med")) / F.col("__mad"),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("mz", mz)
        .withColumn(
            "is_outlier",
            (F.abs(F.col("mz")) > F.lit(threshold)).cast("int"),
        )
        .drop("__med", "__mad")
    )


def mahalanobis_outliers_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols,
    *,
    top_k: int = 20,
    units_x: float = 1e2,
    units_y: float = 1e2,
) -> DataFrame:
    """Top-``top_k`` rows by squared Mahalanobis distance in a
    2-feature space (Mahalanobis 1936) — the correlation-aware
    multivariate outlier score:

        md2 = [ dx^2 vy - 2 dx dy cxy + dy^2 vx ] / (vx vy - cxy^2)

    with sample (co)variances from EXACT integer moments (values
    quantized to ``units_*``), so the closed-form 2x2 inverse and every
    per-row score are engine-reproducible.  ONE moment aggregate
    (broadcast) + one projection + TakeOrderedAndProject on the
    rounded score with key tie-breaks."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    xu = F.floor(x * F.lit(units_x) + F.lit(0.5)).cast("bigint")
    yu = F.floor(y * F.lit(units_y) + F.lit(0.5)).cast("bigint")
    d = df.where(x.isNotNull() & y.isNotNull()).select(
        *keys, xu.alias("__xu"), yu.alias("__yu")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = d.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec("__xu")).alias("__sx"),
        F.sum(dec("__yu")).alias("__sy"),
        F.sum(dec("__xu") * F.col("__xu")).alias("__sxx"),
        F.sum(dec("__yu") * F.col("__yu")).alias("__syy"),
        F.sum(dec("__xu") * F.col("__yu")).alias("__sxy"),
    )
    n = F.col("__n").cast("decimal(19,0)")
    nm1 = (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
    stats = m.select(
        "__n",
        (F.col("__sx").cast("double") / F.col("__n").cast("double"))
        .alias("__mx"),
        (F.col("__sy").cast("double") / F.col("__n").cast("double"))
        .alias("__my"),
        ((n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
         .cast("double") / nm1).alias("__vx"),
        ((n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
         .cast("double") / nm1).alias("__vy"),
        ((n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
         .cast("double") / nm1).alias("__cxy"),
    )
    j = d.crossJoin(F.broadcast(stats))
    dx = F.col("__xu").cast("double") - F.col("__mx")
    dy = F.col("__yu").cast("double") - F.col("__my")
    det = (F.col("__vx") * F.col("__vy")
           - F.col("__cxy") * F.col("__cxy"))
    # md2 in QUANTIZED units on both axes cancels: dx is in units_x,
    # vx in units_x^2, etc. — the ratio is unit-free
    md2 = (
        dx * dx * F.col("__vy")
        - F.lit(2.0) * dx * dy * F.col("__cxy")
        + dy * dy * F.col("__vx")
    ) / det
    scored = j.select(*keys, F.round(md2, 6).alias("md2"))
    return scored.orderBy(
        F.col("md2").desc(), *[F.col(k) for k in keys]
    ).limit(top_k)


def winsorize_column(
    df: DataFrame,
    column: str,
    *,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    mode: str = "auto",
    n_rows: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize a column at the ``[p_lo, p_hi]`` percentile bounds
    (Dixon & Tukey, Technometrics 1968 — 'winsorization'): values
    outside are CLAMPED to the bound (vs. the IQR clip's fence rule).

    The two cut points ride the repo's percentile switch
    (stats/prebin.percentile_expr): exact below the row threshold /
    oracle path, one bounded-memory ``percentile_approx`` sketch above
    it — then a 1-row broadcast and a pure clamp projection."""
    from gofast_spark.stats.prebin import percentile_expr

    c = F.col(column).cast("double")
    cuts = df.agg(
        percentile_expr(c, p_lo, mode, n_rows).alias("__lo"),
        percentile_expr(c, p_hi, mode, n_rows).alias("__hi"),
    ).select(
        F.col("__lo").cast("double").alias("__lo"),
        F.col("__hi").cast("double").alias("__hi"),
    )
    out = out_col or column
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(
            out,
            F.when(c < F.col("__lo"), F.col("__lo"))
            .when(c > F.col("__hi"), F.col("__hi"))
            .otherwise(c),
        )
        .drop("__lo", "__hi")
    )


def hbos_scores(
    df: DataFrame,
    feature_cols,
    key_cols,
    *,
    bins: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """Histogram-based outlier score (Goldstein & Dengel, KI 2012):
    per feature, an equal-width histogram; a row's score is

        HBOS = sum_f -ln( density of the row's bin in feature f )

    — the linear-time unsupervised outlier detector (assumes feature
    independence; competitive with LOF on global outliers at a
    fraction of the cost).  Shapes: one min/max aggregate, one
    ``bins``-sized count per feature (all from a single groupBy pass
    per feature over a pure projection), broadcast joins back, ONE
    TakeOrderedAndProject.  Per-bin log-densities are exact-integer
    ratios quantized to micro-units, so scores sum exactly."""
    feats = (
        [feature_cols] if isinstance(feature_cols, str)
        else list(feature_cols)
    )
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cond = F.lit(True)
    for c in feats:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        *keys, *[F.col(c).cast("double").alias(f"__x_{i}")
                 for i, c in enumerate(feats)]
    )
    ranges = base.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            a for i in range(len(feats)) for a in (
                F.min(f"__x_{i}").alias(f"__lo_{i}"),
                F.max(f"__x_{i}").alias(f"__hi_{i}"),
            )
        ],
    )
    withb = base.crossJoin(F.broadcast(ranges))
    bcols = []
    for i in range(len(feats)):
        width = (F.col(f"__hi_{i}") - F.col(f"__lo_{i}")) / F.lit(float(bins))
        b = F.least(
            F.greatest(
                F.floor((F.col(f"__x_{i}") - F.col(f"__lo_{i}")) / width)
                .cast("int"),
                F.lit(0),
            ),
            F.lit(bins - 1),
        )
        bcols.append(b.alias(f"__b_{i}"))
    binned = withb.select(*keys, F.col("__n"), *bcols)
    scored = binned
    for i in range(len(feats)):
        hist = (
            binned.groupBy(f"__b_{i}")
            .agg(
                # -ln(c / N) quantized to micro-units (exact ratio)
                F.floor(
                    -F.log(F.count(F.lit(1)).cast("double")
                           / F.first("__n").cast("double"))
                    * F.lit(1e6) + F.lit(0.5)
                ).cast("bigint").alias(f"__s_{i}"),
            )
        )
        scored = scored.join(F.broadcast(hist), f"__b_{i}")
    total = sum(
        (F.col(f"__s_{i}") for i in range(1, len(feats))),
        F.col("__s_0"),
    )
    out = scored.select(
        *keys,
        F.round(total.cast("double") / F.lit(1e6), 6).alias("hbos"),
    )
    return out.orderBy(
        F.col("hbos").desc(), *[F.col(k) for k in keys]
    ).limit(top_k)
