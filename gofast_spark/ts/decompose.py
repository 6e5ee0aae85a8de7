"""Per-series model offload: Savitzky-Golay smoothing, STL decomposition,
ADF stationarity — operators whose kernels genuinely need scipy/
statsmodels (SURVEY §4.2.5).

The Spark-side plumbing is real: ``groupBy(series).applyInPandas`` with a
declared output schema ships each series to a worker as ONE Arrow batch
(size-bound your groups).  The scientific kernels are import-gated —
environments without scipy/statsmodels get a clear ImportError naming the
missing dependency, not a silent fallback (builder-brief stub policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _require(module: str):
    import importlib

    try:
        return importlib.import_module(module)
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            f"{module} is required for this operator; install it or use the "
            "native window alternatives (smooth1d, transform_stationarity)"
        ) from e


def _savgol_1d(x, window_length: int, polyorder: int):
    """Savitzky-Golay filter, scipy-equivalent 'interp' mode, in pure
    numpy: the projection matrix H = A (A'A)^-1 A' of the local
    polynomial basis maps each window to its fitted values; interior
    points take the center row, edge points the corresponding rows over
    the first/last window (exactly scipy's polynomial edge fit)."""
    import numpy as np

    if window_length % 2 == 0:
        # scipy contract: an even window has no center row, and the edge
        # slices would silently span wl+1 points (ADVICE r5)
        raise ValueError("window_length must be odd")
    n = len(x)
    wl = min(window_length, n if n % 2 else n - 1)
    wl = max(wl, 3)
    if n < 3:
        return np.asarray(x, dtype=float)
    poly = min(polyorder, wl - 1)
    h = wl // 2
    offs = np.arange(-h, h + 1, dtype=float)
    A = np.vander(offs, poly + 1, increasing=True)
    H = A @ np.linalg.pinv(A)
    out = np.empty(n, dtype=float)
    # interior: convolution with the center projection row
    center = H[h]
    for i in range(h, n - h):
        out[i] = center @ x[i - h : i + h + 1]
    # edges: fitted values of the first/last full window
    out[:h] = H[:h] @ x[:wl]
    out[n - h :] = H[h + 1 :] @ x[n - wl :]
    return out


def savgol_smooth(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    *,
    window_length: int = 7,
    polyorder: int = 2,
) -> DataFrame:
    """Savitzky-Golay filter per series (savgol_filter,
    gofast/utils/spatial_utils.py:3937) via applyInPandas.

    The kernel is pure numpy (:func:`_savgol_1d`, scipy-equivalent
    'interp' mode) so the operator runs in scipy-free environments;
    when scipy is installed the results match ``scipy.signal.
    savgol_filter`` to float tolerance (asserted in tests when
    available)."""
    import numpy as np  # noqa: F401  (worker-side dependency)

    if window_length % 2 == 0:
        # fail at plan time, not inside the Arrow batch on an executor
        raise ValueError("window_length must be odd")

    schema = f"{series_col} string, {order_col} string, {value_col}_sg double"

    def fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col)
        smoothed = _savgol_1d(
            pdf[value_col].to_numpy(dtype=float), window_length, polyorder
        )
        return pd.DataFrame(
            {
                series_col: pdf[series_col].astype(str),
                order_col: pdf[order_col].astype(str),
                f"{value_col}_sg": smoothed,
            }
        )

    return df.groupBy(series_col).applyInPandas(fit, schema=schema)


def stl_decompose(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    *,
    period: int = 7,
) -> DataFrame:
    """STL trend/seasonal/residual per series (decompose_ts,
    gofast/utils/ts_utils.py:2263) via applyInPandas + statsmodels."""
    _require("statsmodels.tsa.seasonal")
    schema = (
        f"{series_col} string, {order_col} string, "
        "trend double, seasonal double, resid double"
    )

    def fit(pdf):
        import pandas as pd
        from statsmodels.tsa.seasonal import STL

        pdf = pdf.sort_values(order_col)
        res = STL(pdf[value_col].to_numpy(), period=period).fit()
        return pd.DataFrame(
            {
                series_col: pdf[series_col].astype(str),
                order_col: pdf[order_col].astype(str),
                "trend": res.trend,
                "seasonal": res.seasonal,
                "resid": res.resid,
            }
        )

    return df.groupBy(series_col).applyInPandas(fit, schema=schema)


def kpss_test(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    *,
    regression: str = "c",
    nlags: int | None = None,
) -> DataFrame:
    """KPSS stationarity test per series (trend_analysis strategy='kpss',
    gofast/utils/ts_utils.py:720).  Native numpy kernel — unlike
    :func:`adf_test` there is no statsmodels dependency: the statistic is

        eta = sum_t S_t^2 / (n^2 * s2_l)

    with ``S_t`` the partial sums of the level- (``regression='c'``) or
    trend- (``'ct'``) residuals and ``s2_l`` the Bartlett-kernel long-run
    variance with ``nlags`` lags (default: the Schwert/legacy rule
    ``ceil(12 * (n/100)^0.25)``).  The p-value interpolates the published
    Kwiatkowski et al. (1992) critical-value table and is clamped to
    [0.01, 0.10] outside it, matching the conventional reporting.

    Output: (series, kpss_stat, p_value, lags, n).  Null hypothesis is
    STATIONARITY — small p rejects stationarity (opposite of ADF).
    """
    schema = (
        f"{series_col} string, kpss_stat double, p_value double, "
        "lags bigint, n bigint"
    )
    crit = {
        # stat values at p = 0.10, 0.05, 0.025, 0.01
        "c": [0.347, 0.463, 0.574, 0.739],
        "ct": [0.119, 0.146, 0.176, 0.216],
    }[regression]
    pvals = [0.10, 0.05, 0.025, 0.01]

    def fit(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(order_col)
        x = pdf[value_col].to_numpy(dtype=float)
        n = len(x)
        if regression == "ct":
            t = np.arange(1.0, n + 1)
            beta = np.polyfit(t, x, 1)
            e = x - np.polyval(beta, t)
        else:
            e = x - x.mean()
        q = nlags if nlags is not None else int(np.ceil(12.0 * (n / 100.0) ** 0.25))
        q = min(q, n - 1)
        s = np.cumsum(e)
        eta = float((s * s).sum()) / (n * n)
        s2 = float((e * e).sum()) / n
        for lag in range(1, q + 1):
            gamma = float((e[lag:] * e[:-lag]).sum()) / n
            s2 += 2.0 * (1.0 - lag / (q + 1.0)) * gamma
        stat = eta / s2 if s2 > 0 else float("inf")
        # np.interp needs ascending x; crit is ascending, pvals descending —
        # interp handles a descending fp fine (it's just piecewise-linear)
        p = float(np.interp(stat, crit, pvals))
        p = min(max(p, 0.01), 0.10)
        return pd.DataFrame(
            {
                series_col: [str(pdf[series_col].iloc[0])],
                "kpss_stat": [stat],
                "p_value": [p],
                "lags": [q],
                "n": [n],
            }
        )

    return df.groupBy(series_col).applyInPandas(fit, schema=schema)


def adf_test(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Augmented Dickey-Fuller stationarity per series (trend_analysis,
    gofast/utils/ts_utils.py:720) via applyInPandas + statsmodels.
    Output: (series, adf_stat, p_value, n)."""
    _require("statsmodels.tsa.stattools")
    schema = f"{series_col} string, adf_stat double, p_value double, n bigint"

    def fit(pdf):
        import pandas as pd
        from statsmodels.tsa.stattools import adfuller

        pdf = pdf.sort_values(order_col)
        stat, p = adfuller(pdf[value_col].to_numpy())[:2]
        return pd.DataFrame(
            {
                series_col: [str(pdf[series_col].iloc[0])],
                "adf_stat": [stat],
                "p_value": [p],
                "n": [len(pdf)],
            }
        )

    return df.groupBy(series_col).applyInPandas(fit, schema=schema)


def seasonal_decompose(
    df: DataFrame,
    value_col: str,
    date_col: str,
    *,
    period: int = 7,
    partition_by: str | None = None,
) -> DataFrame:
    """Classical additive decomposition — trend / seasonal / residual —
    entirely with native window + groupBy operators (the distributed
    counterpart of statsmodels ``seasonal_decompose``; :func:`stl_decompose`
    offloads the LOESS-based STL variant per series).

    - trend: centered moving average over ``period`` rows (odd period;
      NULL where the window is incomplete, like the classical method);
    - seasonal: per-phase mean of the detrended series (phase = days
      since epoch mod period), re-centered to sum to zero;
    - resid: value - trend - seasonal.

    Every stage is a window or aggregation over the (tiny relative to
    the raw table) series frame — no driver collect, no Python kernel —
    and the whole construction is SQL-expressible, so the catalog entry
    carries a full differential oracle.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if period % 2 == 0:
        raise ValueError("period must be odd for the centered-MA trend")
    h = period // 2
    parts = [partition_by] if partition_by else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(date_col)
        .rowsBetween(-h, h)
    )
    v = F.col(value_col).cast("double")
    base = df.withColumn(
        "__trend",
        F.when(F.count(F.lit(1)).over(w) == period, F.avg(v).over(w)),
    ).withColumn(
        "__phase",
        F.pmod(F.datediff(F.col(date_col), F.lit("1970-01-01")), F.lit(period)),
    )
    detr = base.withColumn("__d", v - F.col("__trend"))
    phase_means = detr.groupBy(*parts, "__phase").agg(
        F.avg("__d").alias("__pm")
    )
    grand = phase_means.groupBy(*parts).agg(F.avg("__pm").alias("__gm"))
    joined = (
        detr.join(F.broadcast(phase_means), on=[*parts, "__phase"])
        .join(F.broadcast(grand), on=parts if parts else None, how="cross" if not parts else "inner")
    )
    seasonal = F.col("__pm") - F.col("__gm")
    return joined.select(
        *parts,
        F.col(date_col),
        v.alias(value_col),
        F.col("__trend").alias("trend"),
        seasonal.alias("seasonal"),
        (v - F.col("__trend") - seasonal).alias("resid"),
    )


def seasonal_strength(
    df: DataFrame,
    value_col: str,
    date_col: str,
    *,
    period: int = 7,
    units: float = 1e4,
) -> DataFrame:
    """Seasonal and trend strength of a series (Hyndman &
    Athanasopoulos, *Forecasting: Principles and Practice*, the STL
    feature pair; Wang, Smith & Hyndman 2006):

        F_s = max(0, 1 - var(resid) / var(seasonal + resid))
        F_t = max(0, 1 - var(resid) / var(trend + resid))

    computed over the rows where the classical decomposition
    (:func:`seasonal_decompose`) has a complete trend window.  Each
    component is quantized to ``units`` integers before the variance
    moments (the same tolerance the decomposition's own differential
    entry certifies at round-4), so both strengths are
    engine-reproducible.  Output: one row ``(f_seasonal, f_trend,
    var_resid, n)``."""
    dec = seasonal_decompose(
        df, value_col, date_col, period=period
    ).where(F.col("trend").isNotNull())

    def q(c):
        return F.floor(c * F.lit(units) + F.lit(0.5)).cast("bigint")

    base = dec.select(
        q(F.col("resid")).alias("__r"),
        q(F.col("seasonal") + F.col("resid")).alias("__sr"),
        q(F.col("trend") + F.col("resid")).alias("__tr"),
    )
    dd = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    agg = base.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            a for tag in ("r", "sr", "tr") for a in (
                F.sum(dd(f"__{tag}")).alias(f"__s_{tag}"),
                F.sum(dd(f"__{tag}") * F.col(f"__{tag}"))
                .alias(f"__ss_{tag}"),
            )
        ],
    )
    n = F.col("__n").cast("decimal(19,0)")

    def var(tag):
        return (
            (n * F.col(f"__ss_{tag}")
             - F.col(f"__s_{tag}") * F.col(f"__s_{tag}")).cast("double")
            / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
            / F.lit(units * units)
        )

    fs = F.greatest(F.lit(0.0), F.lit(1.0) - var("r") / var("sr"))
    ft = F.greatest(F.lit(0.0), F.lit(1.0) - var("r") / var("tr"))
    return agg.select(
        fs.alias("f_seasonal"),
        ft.alias("f_trend"),
        var("r").alias("var_resid"),
        F.col("__n").cast("bigint").alias("n"),
    )


def haar_energy(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    levels: int = 3,
    units: float = 1e4,
) -> DataFrame:
    """Haar wavelet detail-energy decomposition of a series (Haar 1910;
    Mallat, TPAMI 1989 multiresolution) — which time scales carry the
    variation:

        d_{l,j} = sum(first half of block j at level l)
                - sum(second half),      E_l = sum_j d^2 / 2^l

    Unnormalized block sums stay EXACT quantized integers (one small
    groupBy per level over the rollup series, complete blocks only),
    so every energy is an exact-integer ratio.  Output per level that
    has at least one complete block: ``(level, n_blocks, energy,
    energy_share)`` with shares over the detail energies."""
    vu = F.floor(F.col(value_col).cast("double") * F.lit(units)
                 + F.lit(0.5)).cast("bigint")
    base = df.select(
        F.col(order_col).cast("bigint").alias("__t"), vu.alias("__vu")
    )
    per_level = []
    for lv in range(1, levels + 1):
        blk = F.floor(F.col("__t") / F.lit(2 ** lv))
        sign = F.when(
            (F.floor(F.col("__t") / F.lit(2 ** (lv - 1))) % 2) == 0, 1
        ).otherwise(-1)
        d = (
            base.groupBy(blk.alias("__b"))
            .agg(
                F.sum((sign * F.col("__vu")).cast("decimal(19,0)"))
                .alias("__d"),
                F.count(F.lit(1)).alias("__c"),
            )
            .where(F.col("__c") == 2 ** lv)
        )
        # a level with no complete block has no row (SQL's GROUP BY
        # over no rows), so an empty series yields an empty frame
        e = d.agg(
            F.lit(lv).cast("int").alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("__d") * F.col("__d")).alias("__e_u"),
        ).where(F.col("n_blocks") > 0)
        per_level.append(e)
    allv = per_level[0]
    for e in per_level[1:]:
        allv = allv.unionByName(e)
    tot = allv.agg(
        F.sum(
            F.col("__e_u").cast("double")
            / F.pow(F.lit(2.0), F.col("level").cast("double"))
        ).alias("__tot")
    )
    energy = (
        F.col("__e_u").cast("double")
        / F.pow(F.lit(2.0), F.col("level").cast("double"))
        / F.lit(units * units)
    )
    return allv.crossJoin(F.broadcast(tot)).select(
        "level", "n_blocks",
        energy.alias("energy"),
        (
            F.col("__e_u").cast("double")
            / F.pow(F.lit(2.0), F.col("level").cast("double"))
            / F.col("__tot")
        ).alias("energy_share"),
    )
