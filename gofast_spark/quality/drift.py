"""Distribution-drift monitoring: PSI and smoothed KL over fixed bins.

The production-ML monitoring staple (the reference keeps drift checks
in its mlops layer, gofast/mlops/ — out of engine scope there, an
aggregation here): compare a feature's distribution between a
reference sample and a current sample over a DECLARED equi-width grid
and report the Population Stability Index

    PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

(the symmetrized KL between the binned distributions; credit-risk
folklore thresholds: < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted)
plus each side's bin shares.  Laplace smoothing keeps empty bins
finite.

Scale shape: one projection + one bins-sized groupBy per side (map
-side combined), a 1-row broadcast of the totals, and the PSI is one
aggregate of the bins frame.  The declared [lo, hi) grid (the
``value_histogram`` convention) makes results deterministic and the
two sides directly comparable — no data-dependent quantile cuts to
drift on their own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bin(col: Column, lo: float, width: float, bins: int) -> Column:
    return F.least(
        F.greatest(
            F.floor((col - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)
        ),
        F.lit(bins - 1),
    )


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
    smooth: float = 0.5,
) -> DataFrame:
    """One row: ``(psi, n_ref, n_cur)`` for ``col`` between the two
    frames over the declared grid; out-of-range values clamp to the
    edge bins (they still count — a mass shift past the grid edge is
    drift, not data to ignore)."""
    if bins < 2 or not hi > lo:
        raise ValueError("need bins >= 2 and hi > lo")
    width = (hi - lo) / bins

    def counts(df: DataFrame) -> DataFrame:
        x = F.col(col).cast("double")
        return (
            df.where(x.isNotNull())
            .groupBy(_bin(x, lo, width, bins).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return psi_from_counts(counts(ref), counts(cur), bins=bins, smooth=smooth)


def psi_by_group(
    df: DataFrame,
    group_col: str,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
    smooth: float = 0.5,
    unit: int = 1_000_000,
) -> DataFrame:
    """Per-group drift report from ONE scan: for every ``group_col``
    value, the PSI of ``col``'s binned distribution against the REST
    of the corpus (leave-one-group-out) — the per-source monitoring
    readout a training-data pipeline runs over its ingest sources
    ("which source shifted?"), generalizing :func:`psi_report`'s
    two-frame form.

    Shape: one groupBy((group, bin)) count, a dense groups x bins grid
    (distinct groups joined to a broadcast bin spine so empty bins
    still contribute their smoothing term), and window sums for the
    group/bin/grand margins — no second pass, no per-group scans.  The
    summands are quantized to ``1/unit`` before the final integer sum
    (the repo's transcendental-sum discipline), so the report is
    engine-exact.  Returns ``(group, n_group, n_rest, psi_u6)``
    ordered by group."""
    if bins < 2 or not hi > lo:
        raise ValueError("need bins >= 2 and hi > lo")
    width = (hi - lo) / bins
    counts = _group_bin_counts(df, group_col, col, lo, width, bins)
    return psi_by_group_from_counts(
        counts, bins=bins, smooth=smooth, unit=unit
    )


def _group_bin_counts(
    df: DataFrame,
    group_col: str,
    col: str,
    lo: float,
    width: float,
    bins: int,
) -> DataFrame:
    """The shared ``(grp, bin, n)`` count frame behind the grouped
    drift reports — exactly the state a STREAMING monitor maintains
    (a groups x bins counter grid), which is why the margin folds
    below take this frame rather than raw rows: the batch entries
    bin-and-fold in one plan, the streaming twins drain the same
    counts from a complete-mode aggregate and fold identically."""
    x = F.col(col).cast("double")
    return (
        df.where(x.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            _bin(x, lo, width, bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_by_group_from_counts(
    counts: DataFrame,
    *,
    bins: int,
    smooth: float = 0.5,
    unit: int = 1_000_000,
) -> DataFrame:
    """Leave-one-group-out PSI margin fold over a ``(grp, bin, n)``
    count frame (see :func:`psi_by_group` for semantics)."""
    s = float(smooth)
    spine = counts.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = (
        counts.select("grp").distinct()
        .crossJoin(F.broadcast(spine))
        .join(counts, ["grp", "bin"], "left")
        .select(
            "grp", "bin", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    w_grp = Window.partitionBy("grp")
    w_bin = Window.partitionBy("bin")
    w_all = Window.partitionBy()
    m = grid.select(
        "grp",
        "bin",
        "n",
        F.sum("n").over(w_grp).alias("n_g"),
        (F.sum("n").over(w_bin) - F.col("n")).alias("rest_b"),
        (F.sum("n").over(w_all) - F.sum("n").over(w_grp)).alias("rest_t"),
    )
    p = (F.col("n") + F.lit(s)) / (F.col("n_g") + F.lit(s * bins))
    q = (F.col("rest_b") + F.lit(s)) / (F.col("rest_t") + F.lit(s * bins))
    term_u = F.floor((p - q) * F.log(p / q) * unit + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        m.groupBy(F.col("grp").alias("group"))
        .agg(
            F.max("n_g").cast("bigint").alias("n_group"),
            F.max("rest_t").cast("bigint").alias("n_rest"),
            F.sum(term_u).alias("psi_u6"),
        )
        .orderBy("group")
    )


def ks_by_group(
    df: DataFrame,
    group_col: str,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 100,
    unit: int = 1_000_000,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov drift statistic from
    ONE scan: for every group, ``D = max_b |F_group(b) - F_rest(b)|``
    over a declared ``bins``-point grid (group vs rest-of-corpus ECDFs
    evaluated on the binned support — the scale-safe KS: exact in the
    grid resolution, no per-group sort of raw values).

    Shape mirrors :func:`psi_by_group`: one groupBy((group, bin)), a
    dense grid, cumulative windows per group for both ECDFs (the rest
    ECDF from the grand cumulative minus the group's own).  All
    arithmetic is integer counts and single divisions — no
    transcendentals — quantized to ``1/unit``.  Returns ``(group,
    n_group, n_rest, ks_u6)`` ordered by group."""
    if bins < 2 or not hi > lo:
        raise ValueError("need bins >= 2 and hi > lo")
    width = (hi - lo) / bins
    counts = _group_bin_counts(df, group_col, col, lo, width, bins)
    return ks_by_group_from_counts(counts, bins=bins, unit=unit)


def ks_by_group_from_counts(
    counts: DataFrame,
    *,
    bins: int,
    unit: int = 1_000_000,
) -> DataFrame:
    """Group-vs-rest binned-ECDF KS margin fold over a ``(grp, bin,
    n)`` count frame (see :func:`ks_by_group` for semantics)."""
    spine = counts.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = (
        counts.select("grp").distinct()
        .crossJoin(F.broadcast(spine))
        .join(counts, ["grp", "bin"], "left")
        .select(
            "grp", "bin", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    w_grp = Window.partitionBy("grp")
    w_bin = Window.partitionBy("bin")
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy("grp").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    margins = grid.select(
        "grp",
        "bin",
        "n",
        F.sum("n").over(w_bin).alias("tot_b"),
        F.sum("n").over(w_grp).alias("n_g"),
        F.sum("n").over(w_all).alias("n_all"),
    )
    m = margins.select(
        "grp",
        "bin",
        "n_g",
        "n_all",
        F.sum("n").over(w_cum).alias("cum_g"),
        F.sum("tot_b").over(w_cum).alias("cum_all"),
    )
    f_g = F.col("cum_g").cast("double") / F.col("n_g").cast("double")
    # single-group corpus: the rest ECDF is undefined (0/0 would
    # NaN-poison the bigint cast under ANSI) — define D = 0, there is
    # nothing to drift against
    f_r = F.when(
        F.col("n_all") > F.col("n_g"),
        (F.col("cum_all") - F.col("cum_g")).cast("double")
        / (F.col("n_all") - F.col("n_g")).cast("double"),
    ).otherwise(f_g)
    d_u = F.floor(F.abs(f_g - f_r) * unit + F.lit(0.5)).cast("bigint")
    return (
        m.groupBy(F.col("grp").alias("group"))
        .agg(
            F.max("n_g").cast("bigint").alias("n_group"),
            (F.max("n_all") - F.max("n_g")).cast("bigint").alias("n_rest"),
            F.max(d_u).alias("ks_u6"),
        )
        .orderBy("group")
    )


def psi_from_counts(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    *,
    bins: int,
    smooth: float = 0.5,
) -> DataFrame:
    """PSI from two pre-aggregated ``(bin, n)`` frames (e.g. a drained
    streaming histogram state vs a stored reference histogram) — the
    monitoring fast path: no raw rows touched, input is 2 x ``bins``
    counters.  Missing bins count as 0; same smoothing/grid contract
    as :func:`psi_report`."""
    s = float(smooth)
    spark = ref_counts.sparkSession
    grid = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        grid.join(
            ref_counts.select("bin", F.col("n").alias("n_ref")), "bin",
            "left",
        )
        .join(
            cur_counts.select("bin", F.col("n").alias("n_cur")), "bin",
            "left",
        )
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    tot = joined.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    p = (F.col("n_ref") + F.lit(s)) / (F.col("__tr") + F.lit(s) * bins)
    q = (F.col("n_cur") + F.lit(s)) / (F.col("__tc") + F.lit(s) * bins)
    return (
        joined.crossJoin(F.broadcast(tot))
        .agg(
            F.sum((p - q) * F.log(p / q)).alias("psi"),
            F.max("__tr").alias("n_ref"),
            F.max("__tc").alias("n_cur"),
        )
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between the value
    distributions of two groups (Vallender 1974: for one-dimensional
    empirical measures ``W1 = integral |F_a - F_b| dx``) — the
    metric-aware drift companion of the PSI/KS/JSD family: unlike KS
    it weighs HOW FAR mass moved, not just the largest ECDF gap.

    Over the merged distinct-value table,

        W1 = sum_v |F_a(v) - F_b(v)| * (v_next - v)

    where the ECDF gap is carried as the exact INTEGER
    ``|cum_a * n_b - cum_b * n_a|`` (common denominator n_a n_b), so
    each segment term is one double product quantized to ``1/unit``
    before the integer sum.  One distinct-value groupBy + ordered
    window (pre-bin at 100 TB — the ks_test contract).  Returns ONE
    row ``(n_a, n_b, w1_u9)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    per_v = d.groupBy("v").agg(
        F.sum((F.col("g") == group_a).cast("bigint")).alias("c_a"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("c_b"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_lead = Window.orderBy("v")
    tot = Window.partitionBy()
    cum = per_v.select(
        "v",
        F.sum("c_a").over(w_cum).alias("ca"),
        F.sum("c_b").over(w_cum).alias("cb"),
        F.sum("c_a").over(tot).alias("na"),
        F.sum("c_b").over(tot).alias("nb"),
        F.lead("v").over(w_lead).alias("vn"),
    ).where(F.col("vn").isNotNull())
    gap = F.abs(
        F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
    ).cast("double")
    term = (
        gap
        * (F.col("vn") - F.col("v"))
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    agg = cum.select(
        "na", "nb",
        F.floor(term * F.lit(float(unit)) + F.lit(0.5))
        .cast("bigint").alias("tq"),
    ).groupBy("na", "nb").agg(F.sum("tq").alias("w1_u9"))
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "w1_u9",
    )


def kl_jsd_binned(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    bins: int = 20,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Kullback-Leibler divergences (both directions) and the
    Jensen-Shannon divergence between two groups' binned value
    distributions (Kullback & Leibler 1951; Lin, IEEE IT 1991;
    reference: gofast/stats/evaluation.py:1198-1215
    ``DistributionComparison.kullback_leibler_divergence`` /
    ``.jensen_shannon_divergence`` compare eager numpy vectors) —
    with add-one (Laplace) smoothing on the counts so empty bins never
    produce ln(0).

    Bin edges come from the global min/max (deterministic) with the
    shared zero-range guard; smoothed cell probabilities are exact
    rationals ``(c + 1) / (n + bins)``; each n ln n-style summand is
    quantized to ``1/unit`` before the integer sums.  Returns ONE row
    ``(n_a, n_b, bins, kl_ab_u9, kl_ba_u9, jsd_u9)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    lo, hi = d.agg(F.min("v"), F.max("v")).first()
    lo, hi = float(lo), float(hi)
    width = ((hi - lo) or 1.0) / bins
    binned = d.select(
        "g", _bin(F.col("v"), lo, width, bins).alias("b")
    )
    per_b = binned.groupBy("b").agg(
        F.sum((F.col("g") == group_a).cast("bigint")).alias("c_a"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("c_b"),
    )
    # dense grid: every bin present even when both counts are zero
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").cast("int").alias("b"))
    cells = grid.join(per_b, "b", "left").select(
        "b",
        F.coalesce(F.col("c_a"), F.lit(0)).alias("c_a"),
        F.coalesce(F.col("c_b"), F.lit(0)).alias("c_b"),
    )
    tot = Window.partitionBy()
    w = cells.select(
        "b", "c_a", "c_b",
        F.sum("c_a").over(tot).alias("na"),
        F.sum("c_b").over(tot).alias("nb"),
    )
    p = (F.col("c_a").cast("double") + F.lit(1.0)) / (
        F.col("na").cast("double") + F.lit(float(bins))
    )
    q = (F.col("c_b").cast("double") + F.lit(1.0)) / (
        F.col("nb").cast("double") + F.lit(float(bins))
    )
    m = (p + q) / F.lit(2.0)
    uu = F.lit(float(unit))

    def qz(x):
        return F.floor(x * uu + F.lit(0.5)).cast("bigint")

    terms = w.select(
        "na", "nb",
        qz(p * F.log(p / q)).alias("t_ab"),
        qz(q * F.log(q / p)).alias("t_ba"),
        qz(
            F.lit(0.5) * (p * F.log(p / m))
            + F.lit(0.5) * (q * F.log(q / m))
        ).alias("t_js"),
    )
    agg = terms.groupBy("na", "nb").agg(
        F.sum("t_ab").alias("kl_ab_u9"),
        F.sum("t_ba").alias("kl_ba_u9"),
        F.sum("t_js").alias("jsd_u9"),
    )
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.lit(bins).cast("int").alias("bins"),
        "kl_ab_u9", "kl_ba_u9", "jsd_u9",
    )


def hellinger_binned(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    bins: int = 20,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Squared Hellinger distance between two groups' binned value
    distributions (Hellinger 1909; ``H^2 = 1 - BC`` with the
    Bhattacharyya coefficient ``BC = sum_i sqrt(p_i q_i)``) — a
    bounded [0, 1] drift metric that, unlike KL, is symmetric and
    finite on disjoint supports, so it needs no smoothing.

    Same deterministic construction as :func:`kl_jsd_binned` (global
    min/max edges, exact rational cell probabilities); each
    ``sqrt(p q)`` is quantized to ``1/unit`` before the integer sum,
    and ``H^2`` in units is the INTEGER ``unit - BC_u``.  Returns ONE
    row ``(n_a, n_b, bins, bc_u9, h2_u9)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    lo, hi = d.agg(F.min("v"), F.max("v")).first()
    lo, hi = float(lo), float(hi)
    width = ((hi - lo) or 1.0) / bins
    binned = d.select(
        "g", _bin(F.col("v"), lo, width, bins).alias("b")
    )
    per_b = binned.groupBy("b").agg(
        F.sum((F.col("g") == group_a).cast("bigint")).alias("c_a"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("c_b"),
    )
    tot = Window.partitionBy()
    w = per_b.select(
        "c_a", "c_b",
        F.sum("c_a").over(tot).alias("na"),
        F.sum("c_b").over(tot).alias("nb"),
    )
    p = F.col("c_a").cast("double") / F.col("na").cast("double")
    q = F.col("c_b").cast("double") / F.col("nb").cast("double")
    bc_term = F.floor(
        F.sqrt(p * q) * F.lit(float(unit)) + F.lit(0.5)
    ).cast("bigint")
    agg = w.select("na", "nb", bc_term.alias("t")).groupBy(
        "na", "nb"
    ).agg(F.sum("t").alias("bc_u9"))
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.lit(bins).cast("int").alias("bins"),
        "bc_u9",
        (F.lit(int(unit)) - F.col("bc_u9")).alias("h2_u9"),
    )


def wasserstein_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Leave-one-group-out exact 1-Wasserstein distances: for every
    group, the earth-mover distance between ITS value distribution and
    the pooled REST (Vallender 1974) — the metric-aware sibling of
    :func:`psi_by_group`'s leave-one-out PSI, from ONE scan.

    Construction: one (value, group) contingency, a dense
    ``distinct-values x groups`` grid so every group has a cumulative
    at every merged value (window per group + per-value global
    margins), then per-segment gaps carried as the exact integer
    ``|cum_g (n - n_g) - (cum_all - cum_g) n_g|`` and quantized
    segment terms.  Pre-bin high-cardinality values at 100 TB (the
    ks_test contract).  Returns one row per group
    ``(group, n_group, w1_u9)`` ordered by group."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(v.isNotNull() & g.isNotNull()).select(
        g.alias("g"), v.alias("v")
    )
    cnt = d.groupBy("v", "g").agg(F.count(F.lit(1)).alias("c"))
    return wasserstein_by_group_from_counts(
        cnt, unit=unit, group_col=group_col
    )


def wasserstein_by_group_from_counts(
    cnt: DataFrame,
    *,
    unit: int = 1_000_000_000,
    group_col: str = "group",
) -> DataFrame:
    """Leave-one-group-out W1 fold over a ``(v, g, c)`` count frame —
    exactly the state a streaming monitor maintains (per-(value,
    group) counters; pre-bin unbounded value domains per the ks_test
    contract).  See :func:`wasserstein_by_group` for semantics."""
    vals = cnt.select("v").distinct()
    groups = cnt.select("g").distinct()
    grid = vals.crossJoin(F.broadcast(groups))
    cell = grid.join(cnt, ["v", "g"], "left").select(
        "v", "g", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    wg = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wv = Window.partitionBy("v")
    wgl = Window.partitionBy("g").orderBy("v")
    tot = Window.partitionBy()
    wgt = Window.partitionBy("g")
    cum = cell.select(
        "v", "g",
        F.sum("c").over(wg).alias("cum_g"),
        F.sum("c").over(wv).alias("cv"),
        F.sum("c").over(wgt).alias("n_g"),
        F.sum("c").over(tot).alias("n"),
        F.lead("v").over(wgl).alias("vn"),
    )
    wcv = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum2 = cum.select(
        "v", "g", "cum_g", "n_g", "n", "vn",
        F.sum("cv").over(wcv).alias("cum_all"),
    ).where(F.col("vn").isNotNull())
    rest_n = F.col("n") - F.col("n_g")
    gap = F.abs(
        F.col("cum_g") * rest_n
        - (F.col("cum_all") - F.col("cum_g")) * F.col("n_g")
    ).cast("double")
    term = (
        gap
        * (F.col("vn") - F.col("v"))
        / (F.col("n_g").cast("double") * rest_n.cast("double"))
    )
    agg = cum2.select(
        "g", "n_g",
        F.floor(term * F.lit(float(unit)) + F.lit(0.5))
        .cast("bigint").alias("tq"),
    ).groupBy("g", "n_g").agg(F.sum("tq").alias("w1_u9"))
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n_g").cast("bigint").alias("n_group"),
        "w1_u9",
    ).orderBy(group_col)


def bhattacharyya_gaussian(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    unit: int = 1_000_000,
    out_unit: int = 1_000_000_000,
) -> DataFrame:
    """Closed-form Bhattacharyya distance between two groups under a
    Gaussian model (Bhattacharyya 1943; Kailath, IEEE COM 1967):

        DB = (mu_a - mu_b)^2 / (8 sbar^2) + ln( sbar^2 / (s_a s_b) ) / 2
        sbar^2 = (s_a^2 + s_b^2) / 2

    — the parametric companion of :func:`hellinger_binned` (for
    Gaussians, ``H^2 = 1 - exp(-DB)``).  Population moments come from
    one micro-unit-exact aggregate per the catalog discipline; DB is
    presented round-6 (its in-plan ln is 1-ulp engine-dependent)
    and the Bhattacharyya coefficient ``exp(-DB)`` is quantized per
    the transcendental-output rule.
    Returns ONE row ``(n_a, n_b, db, bc_u9)``."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    d = df.where(
        v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), v.alias("v"))
    u = float(unit)

    def q6(x):
        return F.floor(x * F.lit(u) + F.lit(0.5)).cast("bigint")

    agg = d.agg(
        F.sum((F.col("g") == group_a).cast("bigint")).alias("na"),
        F.sum((F.col("g") == group_b).cast("bigint")).alias("nb"),
        F.sum(
            F.when(F.col("g") == group_a, q6(F.col("v"))).otherwise(
                F.lit(0)
            ).cast("decimal(18,0)")
        ).alias("sa"),
        F.sum(
            F.when(F.col("g") == group_b, q6(F.col("v"))).otherwise(
                F.lit(0)
            ).cast("decimal(18,0)")
        ).alias("sb"),
        F.sum(
            F.when(
                F.col("g") == group_a, q6(F.col("v") * F.col("v"))
            ).otherwise(F.lit(0)).cast("decimal(18,0)")
        ).alias("qa"),
        F.sum(
            F.when(
                F.col("g") == group_b, q6(F.col("v") * F.col("v"))
            ).otherwise(F.lit(0)).cast("decimal(18,0)")
        ).alias("qb"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    uu = F.lit(u)
    mu_a = F.col("sa").cast("double") / uu / na
    mu_b = F.col("sb").cast("double") / uu / nb
    va = F.col("qa").cast("double") / uu / na - mu_a * mu_a
    vb = F.col("qb").cast("double") / uu / nb - mu_b * mu_b
    vbar = (va + vb) / F.lit(2.0)
    db = (mu_a - mu_b) * (mu_a - mu_b) / (F.lit(8.0) * vbar) + F.log(
        vbar / F.sqrt(va * vb)
    ) / F.lit(2.0)
    ou = float(out_unit)
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(db, 6).cast("double").alias("db"),
        F.floor(F.exp(-db) * F.lit(ou) + F.lit(0.5))
        .cast("bigint").alias("bc_u9"),
    )
