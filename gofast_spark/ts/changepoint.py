"""Single-changepoint detection by least-squares segmentation.

Binary segmentation's core step (Scott & Knott 1974; the AMOC — "at
most one change" — form of Hinkley 1970): the best split index of an
ordered series is the one maximizing the between-segment sum-of-squares
gain

    G(t) = S_L^2 / n_L + S_R^2 / n_R - S^2 / n

(equivalently: the split minimizing the two-segment SSE for a
piecewise-constant mean fit).  Recursing on the segments gives full
binary segmentation; one level is the detector a monitoring pipeline
runs per series per day.

Scale shape: the series is an AGGREGATED frame (daily/hourly rollup —
small by construction, the repo's ts convention), so one cumulative
window over it + one in-plan ``max_by`` argmax finds the split without
any driver loop; the raw event stream is touched only by the rollup.
All candidate gains derive from the same cumulative sums in one fixed
expression order, ties break on the earliest time."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def best_changepoint(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """One row: ``(change_at, gain, n_left, n_right, mean_left,
    mean_right)`` — the first timestamp of the RIGHT segment at the
    best split of the ordered series; rows with null time/value are
    excluded.  Raises nothing on degenerate input: a series with < 2
    points returns an empty frame (no split exists)."""
    t = F.col(time_col)
    y = F.col(value_col).cast("double")
    d = df.where(t.isNotNull() & y.isNotNull()).select(
        t.alias("__t"), y.alias("__y")
    )
    w = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, -1)
    cum = d.select(
        "__t",
        F.coalesce(F.sum("__y").over(w), F.lit(0.0)).alias("__sl"),
        F.coalesce(F.count("__y").over(w), F.lit(0)).alias("__nl"),
    )
    tot = d.agg(
        F.sum("__y").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    nl = F.col("__nl").cast("double")
    nr = (F.col("__n") - F.col("__nl")).cast("double")
    sl = F.col("__sl")
    sr = F.col("__s") - sl
    gain = (
        sl * sl / nl + sr * sr / nr
        - F.col("__s") * F.col("__s") / F.col("__n").cast("double")
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where((F.col("__nl") > 0) & (F.col("__n") - F.col("__nl") > 0))
        .select(
            F.col("__t").alias("change_at"),
            gain.alias("gain"),
            F.col("__nl").alias("n_left"),
            (F.col("__n") - F.col("__nl")).alias("n_right"),
            (sl / nl).alias("mean_left"),
            (sr / nr).alias("mean_right"),
        )
    )
    # argmax on (gain, -epoch): equal gains pick the EARLIEST split
    row = F.struct(
        "change_at", "gain", "n_left", "n_right", "mean_left", "mean_right"
    )
    ordkey = F.struct(
        F.col("gain"),
        (-F.unix_micros(F.col("change_at").cast("timestamp"))).alias("nt"),
    )
    return cand.agg(F.max_by(row, ordkey).alias("b")).select("b.*")


def _cusum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    keys: list[str],
    *,
    k: float,
    h: "float | None",
    target: "float | None" = None,
) -> DataFrame:
    """Tabular CUSUM of each group of ``keys`` (the whole frame when there
    are none): ``(keys, order, value, cusum_pos, cusum_neg[, alarm_pos,
    alarm_neg])``."""
    v_u = F.floor(
        F.col(value_col).cast("double") * F.lit(1e4) + F.lit(0.5)
    ).cast("bigint")
    k_u = int(round(k * 1e4))
    base = df.select(*keys, F.col(order_col).alias("__o"), v_u.alias("__v"))
    if target is None:
        tot = F.broadcast(base.groupBy(*keys).agg(
            F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n")
        ))
        st = base.join(tot, keys) if keys else base.crossJoin(tot)
        dev_p = (
            F.col("__n") * F.col("__v")
            - F.col("__s")
            - F.col("__n") * F.lit(k_u)
        )
        dev_n = (
            F.col("__s")
            - F.col("__n") * F.col("__v")
            - F.col("__n") * F.lit(k_u)
        )
        scale = F.col("__n").cast("double") * F.lit(1e4)
    else:
        t_u = int(round(target * 1e4))
        st = base
        dev_p = F.col("__v") - F.lit(t_u) - F.lit(k_u)
        dev_n = F.lit(t_u) - F.col("__v") - F.lit(k_u)
        scale = F.lit(1e4)
    w = Window.partitionBy(*keys).orderBy("__o").rowsBetween(
        Window.unboundedPreceding, 0
    )
    st = st.select(
        "*",
        F.sum(dev_p).over(w).alias("__pp"),
        F.sum(dev_n).over(w).alias("__pn"),
    )
    st = st.select(
        "*",
        F.least(F.lit(0).cast("bigint"), F.min("__pp").over(w)).alias("__mp"),
        F.least(F.lit(0).cast("bigint"), F.min("__pn").over(w)).alias("__mn"),
    )
    cp = (F.col("__pp") - F.col("__mp")).cast("double") / scale
    cn = (F.col("__pn") - F.col("__mn")).cast("double") / scale
    cols = [
        *keys,
        F.col("__o").alias(order_col),
        (F.col("__v").cast("double") / F.lit(1e4)).alias(value_col),
        cp.alias("cusum_pos"),
        cn.alias("cusum_neg"),
    ]
    if h is not None:
        h_u = int(round(h * 1e4))
        if target is None:
            thr = (F.col("__n") * F.lit(h_u)).cast("bigint")
        else:
            thr = F.lit(h_u).cast("bigint")
        cols.append(((F.col("__pp") - F.col("__mp")) > thr).alias("alarm_pos"))
        cols.append(((F.col("__pn") - F.col("__mn")) > thr).alias("alarm_neg"))
    return st.select(*cols)


def cusum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    k: float = 0.0,
    h: "float | None" = None,
    target: "float | None" = None,
) -> DataFrame:
    """Tabular CUSUM mean-shift monitor (Page, Biometrika 1954) with
    the recursions

        C+_t = max(0, C+_{t-1} + (x_t - target - k))
        C-_t = max(0, C-_{t-1} + (target - x_t - k))

    computed WITHOUT recursion via the running-minimum identity
    ``C_t = P_t - min(0, min_{i<=t} P_i)`` where ``P`` is the prefix
    sum of the drift-adjusted deviations — one cumulative-sum window +
    one cumulative-min window each side, no UDF, no driver loop.

    Exactness: values are snapped to the 1e-4 grid and all state is
    kept as exact integers.  With ``target=None`` the in-control mean
    is the exact rational ``S/n`` — every deviation is scaled by ``n``
    (so state = ``n*x_u4 - S_u4 - n*k_u4``, still integer) and divided
    back out only in the final double projection, which makes the
    whole monitor bit-identical across engines and partition orders.
    ``k`` (slack) and ``h`` (alarm threshold) must sit on the same
    1e-4 grid.  Intended for rollup-sized series.

    Returns per input row: ``(order, value, cusum_pos, cusum_neg``,
    plus ``alarm_pos / alarm_neg`` when ``h`` is given``)``.
    """
    return _cusum(df, order_col, value_col, [], k=k, h=h, target=target)


def chow_test(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    split: float,
) -> DataFrame:
    """Chow test for a structural break at a KNOWN split point (Chow,
    Econometrica 1960): fit ``y ~ c + b*t`` pooled and separately on
    ``t < split`` / ``t >= split``, then

        F = ((SSE_p - SSE_1 - SSE_2) / 2) / ((SSE_1 + SSE_2) / (n - 4)).

    All three regressions come from ONE conditional moment aggregate:
    values are quantized to exact milli-unit integers and the time
    index must be integer, so every Gram moment (including the
    squared-value sums, which stay inside int64 at milli precision) is
    an exact integer and the closed-form solves — and F — are
    bit-identical across engines and partition orders.

    Returns ONE row ``(n1, n2, sse_pooled, sse_1, sse_2, f_stat)``
    with SSEs in milli-unit^2 scale divided back to value units.
    """
    t = F.col(time_col).cast("bigint")
    yq = F.floor(
        F.col(value_col).cast("double") * F.lit(1e3) + F.lit(0.5)
    ).cast("bigint")
    d = df.where(
        F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(t.alias("__t"), yq.alias("__y"))
    seg = (F.col("__t") < F.lit(split)).cast("int")

    def moms(w, tag):
        return [
            F.sum(w).alias(f"n{tag}"),
            F.sum(w * F.col("__t")).alias(f"st{tag}"),
            F.sum(w * F.col("__t") * F.col("__t")).alias(f"stt{tag}"),
            F.sum(w * F.col("__y")).alias(f"sy{tag}"),
            F.sum(w * F.col("__t") * F.col("__y")).alias(f"sty{tag}"),
            F.sum(w * F.col("__y") * F.col("__y")).alias(f"syy{tag}"),
        ]

    one = F.lit(1).cast("bigint")
    w1 = seg.cast("bigint")
    w2 = (one - w1).cast("bigint")
    agg = d.agg(*moms(one, "p"), *moms(w1, "1"), *moms(w2, "2"))

    def sse(tag):
        n = F.col(f"n{tag}").cast("double")
        st = F.col(f"st{tag}").cast("double")
        stt = F.col(f"stt{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        sty = F.col(f"sty{tag}").cast("double")
        syy = F.col(f"syy{tag}").cast("double")
        b = (n * sty - st * sy) / (n * stt - st * st)
        c = (sy - b * st) / n
        return syy - c * sy - b * sty

    s_p, s_1, s_2 = sse("p"), sse("1"), sse("2")
    n_tot = F.col("np").cast("double")
    f_stat = ((s_p - s_1 - s_2) / F.lit(2.0)) / (
        (s_1 + s_2) / (n_tot - F.lit(4.0))
    )
    u2 = F.lit(1e6)  # milli-units squared -> value units squared
    return agg.select(
        F.col("n1").alias("n1"),
        F.col("n2").alias("n2"),
        (s_p / u2).alias("sse_pooled"),
        (s_1 / u2).alias("sse_1"),
        (s_2 / u2).alias("sse_2"),
        f_stat.alias("f_stat"),
    )


def page_hinkley(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    delta: float = 0.0,
    lam: float = 50.0,
    units: float = 1e4,
) -> DataFrame:
    """Page-Hinkley mean-shift detector (Page, Biometrika 1954; the
    standard streaming drift test in the CUSUM family):

        m_t  = sum_{i<=t} (x_i - mean_{1..i} - delta)
        PH_t = m_t - min_{i<=t} m_i,    alarm when PH_t > lambda

    Running means come from an exact-integer cumulative sum (values
    quantized to ``units``); the two chained cumulative windows are
    ordered left-to-right folds, identical on both engines.  Intended
    for rollup-sized series.  Returns the series with ``(m, ph,
    alarm)`` columns."""
    w = Window.orderBy("__o")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    vu = F.floor(F.col(value_col).cast("double") * F.lit(units)
                 + F.lit(0.5)).cast("bigint")
    base = df.select(
        F.col(order_col).alias("__o"),
        F.col(value_col).alias("__v"),
        vu.alias("__vu"),
    )
    step = base.select(
        "__o", "__v",
        (
            F.col("__vu").cast("double") / F.lit(units)
            - (F.sum("__vu").over(wc).cast("double") / F.lit(units))
            / F.row_number().over(w).cast("double")
            - F.lit(delta)
        ).alias("__d"),
    )
    acc = step.select(
        "__o", "__v", F.sum("__d").over(wc).alias("m")
    )
    out = acc.select(
        F.col("__o").alias(order_col),
        F.col("__v").alias(value_col),
        "m",
        (F.col("m") - F.min("m").over(wc)).alias("ph"),
    )
    return out.select(
        "*", (F.col("ph") > F.lit(lam)).alias("alarm")
    )


def ddm_drift(
    df: DataFrame,
    order_col: str,
    n_col: str,
    err_col: str,
    *,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Drift Detection Method over an ordered batch/period stream
    (Gama, Medas, Castillo & Rodrigues, "Learning with Drift
    Detection", SBIA 2004): with cumulative error proportion
    ``p_i = cum_err / cum_n`` and ``s_i = sqrt(p_i (1 - p_i) /
    cum_n)``, track the running minimum of ``p + s`` (jointly, at the
    prefix index where the sum is smallest) and flag

        warning  when  p_i + s_i >= p_min + 2 s_min
        drift    when  p_i + s_i >= p_min + 3 s_min

    Engine-reproducibility: ``p + s`` and ``s`` are quantized to
    ``1/unit`` BEFORE the running-min comparison, and the joint
    (value, index) minimum is one integer running min over a packed
    key ``ps_u9 * 2^21 + rn`` (deterministic earliest-index
    tie-break, pure bigint comparisons — no argmin ambiguity, no
    engine-specific struct ordering); the ``s`` at the minimizing
    index comes from one equi-join back on the row number.

    The input is a PERIOD-aggregated frame (one row per day/batch with
    event and error counts) — rollup-sized, so the ordered windows and
    the 1-row-per-key self-join are the documented small-frame
    pattern.  Returns per period:
    ``(order, cum_n, cum_err, ps_u9, ps_min_u9, s_min_u9, state)``."""
    o = F.col(order_col)
    w_cum = Window.orderBy(o).rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(Window.orderBy(o))
    cum = df.select(
        o.alias("order"),
        rn.alias("__rn"),
        F.sum(F.col(n_col)).over(w_cum).alias("cum_n"),
        F.sum(F.col(err_col)).over(w_cum).alias("cum_err"),
    )
    p = F.col("cum_err").cast("double") / F.col("cum_n").cast("double")
    s = F.sqrt(p * (F.lit(1.0) - p) / F.col("cum_n").cast("double"))
    q = lambda x: F.floor(x * F.lit(float(unit)) + F.lit(0.5)).cast(  # noqa: E731
        "bigint"
    )
    scored = cum.select(
        "order", "__rn", "cum_n", "cum_err",
        q(p + s).alias("ps_u9"),
        q(s).alias("s_u9"),
    )
    pack = F.lit(2_097_152)  # 2^21: rn fits far below on rollup frames
    w_cum2 = Window.orderBy("order").rowsBetween(
        Window.unboundedPreceding, 0
    )
    keyed = scored.select(
        "order", "__rn", "cum_n", "cum_err", "ps_u9", "s_u9",
        F.min(F.col("ps_u9") * pack + F.col("__rn")).over(w_cum2).alias(
            "__minkey"
        ),
    )
    at_min = scored.select(
        F.col("__rn").alias("__rn_min"), F.col("s_u9").alias("s_min_u9")
    )
    flagged = (
        keyed.withColumn("__rn_min", F.col("__minkey") % pack)
        .withColumn(
            "ps_min_u9",
            (F.col("__minkey") - F.col("__minkey") % pack) / pack,
        )
        .withColumn("ps_min_u9", F.col("ps_min_u9").cast("bigint"))
        .join(F.broadcast(at_min), "__rn_min")
        .select(
            "order", "cum_n", "cum_err", "ps_u9", "ps_min_u9", "s_min_u9"
        )
    )
    state = (
        F.when(
            F.col("ps_u9")
            >= F.col("ps_min_u9") + 3 * F.col("s_min_u9"),
            F.lit("drift"),
        )
        .when(
            F.col("ps_u9")
            >= F.col("ps_min_u9") + 2 * F.col("s_min_u9"),
            F.lit("warning"),
        )
        .otherwise(F.lit("stable"))
    )
    return flagged.select(
        "order", "cum_n", "cum_err", "ps_u9", "ps_min_u9", "s_min_u9",
        state.alias("state"),
    )


def cusum_grouped(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_col: str,
    *,
    k: float = 0.0,
    h: "float | None" = None,
) -> DataFrame:
    """Per-group tabular CUSUM (Page, Biometrika 1954) — :func:`cusum`
    with every window partitioned by ``group_col`` and each group's
    in-control mean its OWN exact rational ``S_g / n_g``: one scan
    monitors every segment's series for mean shifts independently
    (the per-source/per-type monitoring readout).

    Same exact-integer discipline as the ungrouped monitor: values
    snap to the 1e-4 grid, deviations are scaled by the group's
    ``n_g`` so no mean ever rounds, and the max(0, .) recursion is the
    prefix-sum minus running-minimum identity per group.  The
    group-totals join is a groups-sized broadcast.  Returns per row:
    ``(group, order, value, cusum_pos, cusum_neg[, alarm_pos,
    alarm_neg])``."""
    df = df.withColumn("group", F.col(group_col))
    return _cusum(df, order_col, value_col, ["group"], k=k, h=h)


def bernoulli_cusum(
    df: DataFrame,
    order_col: str,
    success_col: str,
    trials_col: str,
    *,
    p0: float = 0.2,
    p1: float = 0.3,
    h: float = 5.0,
) -> DataFrame:
    """Bernoulli/binomial CUSUM monitor on a per-period success rate
    (Page 1954; Reynolds & Stoumbos, JQT 1999) — the conversion-rate
    drift alarm: each period contributes the log-likelihood-ratio
    increment

        llr_t = k_t ln(p1/p0) + (n_t - k_t) ln((1-p1)/(1-p0))

    and the one-sided CUSUM s_t = max(0, s_{t-1} + llr_t) alarms when
    s_t > h.  Both ln coefficients are u6-quantized CONSTANTS (same
    Python-float literal both engines), so every increment is exact
    integer and the recursion reduces to the prefix-sum/running-min
    identity s_t = pp_t - min(0, min_{j<=t} pp_j) — one ordered
    window over the ROLLUP-sized period frame, no iteration.
    Returns one row per period ``(order, k, n, cusum, alarm)``."""
    import math

    l1_u6 = math.floor(math.log(p1 / p0) * 1e6)
    l0_u6 = math.floor(math.log((1.0 - p1) / (1.0 - p0)) * 1e6)
    inc = (
        F.col(success_col).cast("bigint") * F.lit(l1_u6)
        + (F.col(trials_col) - F.col(success_col)).cast("bigint")
        * F.lit(l0_u6)
    )
    # NULL keys order differently across engines (Spark NULLS FIRST,
    # DuckDB NULLS LAST) and a NULL increment would poison the prefix
    # sum — drop incomplete periods up front (r11 ADVICE; catalog
    # callers pre-aggregate, so this is a consistency guard).
    base = df.where(
        F.col(order_col).isNotNull()
        & F.col(success_col).isNotNull()
        & F.col(trials_col).isNotNull()
    ).select(
        F.col(order_col).alias("__o"),
        F.col(success_col).cast("bigint").alias("__k"),
        F.col(trials_col).cast("bigint").alias("__n"),
        inc.alias("__inc"),
    )
    w = Window.orderBy("__o").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pp = F.sum("__inc").over(w)
    run = base.select(
        "__o", "__k", "__n", pp.alias("__pp")
    ).select(
        "__o",
        "__k",
        "__n",
        (
            F.col("__pp")
            - F.least(F.lit(0).cast("bigint"), F.min("__pp").over(w))
        ).alias("__s"),
    )
    hu = int(h * 1e6)
    return run.select(
        F.col("__o").alias(order_col),
        F.col("__k").alias("k"),
        F.col("__n").alias("n"),
        (F.col("__s").cast("double") / 1e6).alias("cusum"),
        (F.col("__s") > F.lit(hu)).cast("int").alias("alarm"),
    )
