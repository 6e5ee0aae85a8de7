"""Catalog entries for inferential statistics (SURVEY §2.10) and the
§2.13 callable-agg escape hatch.  The oracles verify the distributed
*statistics* (sufficient-statistic formulas replayed in SQL); p-values are
scalar scipy lookups on the driver and are exercised in unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query


@query(
    "callable_agg_range_events",
    oracle="""
    SELECT event_type,
           CAST(round(max(value) - min(value), 4) AS DOUBLE) AS value_value_range
    FROM events GROUP BY event_type
    """,
)
def callable_agg_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Callable agg spec -> GROUPED_AGG pandas UDF (§2.13; reference
    contract gofast/utils/data_utils.py:1416-1424), verified against the
    closed-form max-min oracle."""
    from gofast_spark.operators import group_and_aggregate

    def value_range(s):
        return s.max() - s.min()

    e = _t(spark, sf_dir, "events")
    out = group_and_aggregate(e, "event_type", {"value": value_range})
    return out.select(
        "event_type",
        F.round("value_value_range", 4).cast("double").alias("value_value_range"),
    )


@query(
    "t_test_click_error",
    oracle="""
    WITH s AS (
      SELECT event_type, count(value) AS n, avg(value) AS mu, var_samp(value) AS s2
      FROM events WHERE event_type IN ('click', 'error') GROUP BY 1)
    SELECT CAST(round(
             (a.mu - b.mu) / sqrt(
               (((a.n - 1) * a.s2 + (b.n - 1) * b.s2) / (a.n + b.n - 2))
               * (1.0 / a.n + 1.0 / b.n)), 6) AS DOUBLE) AS t_stat,
           CAST(a.n + b.n - 2 AS DOUBLE) AS dof,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
    FROM s a, s b WHERE a.event_type = 'click' AND b.event_type = 'error'
    """,
)
def t_test_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-sample t statistic (t_test_independent,
    gofast/stats/inferential.py:388) as one aggregate + projection."""
    from gofast_spark.stats import t_test_independent

    e = _t(spark, sf_dir, "events")
    out = t_test_independent(e, "value", "event_type", "click", "error")
    return out.select(
        F.round("t_stat", 6).cast("double").alias("t_stat"),
        "dof",
        "n_a",
        "n_b",
    )


@query(
    "anova_events",
    oracle="""
    WITH per AS (
      SELECT event_type, count(value) AS n, avg(value) AS mu, var_samp(value) AS s2
      FROM events GROUP BY 1),
    s AS (
      SELECT count(*) AS k, sum(n) AS N, sum(n * mu) / sum(n) AS grand,
             sum(n * mu * mu) AS sum_nmu2, sum((n - 1) * s2) AS ssw
      FROM per)
    SELECT CAST(round(((sum_nmu2 - N * grand * grand) / (k - 1)) / (ssw / (N - k)), 6) AS DOUBLE) AS f_stat,
           CAST(k - 1 AS BIGINT) AS dof_between,
           CAST(N - k AS BIGINT) AS dof_within,
           CAST(k AS BIGINT) AS n_groups
    FROM s
    """,
)
def anova_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic (anova_test,
    gofast/stats/inferential.py:1605)."""
    from gofast_spark.stats import anova_test

    e = _t(spark, sf_dir, "events")
    out = anova_test(e, "value", "event_type")
    return out.select(
        F.round("f_stat", 6).cast("double").alias("f_stat"),
        "dof_between",
        "dof_within",
        "n_groups",
    )


@query(
    "chi2_events_type_bucket",
    oracle="""
    WITH t AS (SELECT event_type AS a, CAST(floor(value / 20) AS INTEGER) AS b FROM events),
    obs AS (SELECT a, b, count(*) AS o FROM t GROUP BY a, b),
    rm AS (SELECT a, sum(o) AS ra FROM obs GROUP BY a),
    cm AS (SELECT b, sum(o) AS cb FROM obs GROUP BY b),
    n AS (SELECT sum(o) AS N FROM obs)
    SELECT CAST(round(sum(pow(o - ra * cb / N, 2) / (ra * cb / N)), 6) AS DOUBLE) AS chi2,
           CAST((SELECT count(*) FROM rm) - 1 AS BIGINT)
             * CAST((SELECT count(*) FROM cm) - 1 AS BIGINT) AS dof
    FROM obs JOIN rm USING (a) JOIN cm USING (b), n
    """,
)
def chi2_events_type_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence over event_type x value-bucket (chi2_test,
    gofast/stats/inferential.py:1496)."""
    from gofast_spark.stats import chi2_test

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") / 20).cast("int").alias("vbucket"),
    )
    out = chi2_test(e, "event_type", "vbucket")
    return out.select(
        F.round("chi2", 6).cast("double").alias("chi2"), F.col("dof")
    )


@query(
    "levene_events",
    oracle="""
    WITH c AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1),
    z AS (
      SELECT e.event_type AS g, abs(e.value - c.med) AS z
      FROM events e JOIN c ON e.event_type = c.event_type),
    per AS (SELECT g, count(z) AS n, avg(z) AS mu, var_samp(z) AS s2 FROM z GROUP BY g),
    s AS (
      SELECT count(*) AS k, sum(n) AS N, sum(n * mu) / sum(n) AS grand,
             sum(n * mu * mu) AS sum_nmu2, sum((n - 1) * s2) AS ssw
      FROM per)
    SELECT CAST(round(((sum_nmu2 - N * grand * grand) / (k - 1)) / (ssw / (N - k)), 6) AS DOUBLE) AS w_stat,
           CAST(k - 1 AS BIGINT) AS dof_between,
           CAST(N - k AS BIGINT) AS dof_within
    FROM s
    """,
)
def levene_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity of variance (levene_test,
    gofast/stats/inferential.py:793)."""
    from gofast_spark.stats.inferential import levene_test

    e = _t(spark, sf_dir, "events")
    out = levene_test(e, "value", "event_type")
    return out.select(
        F.round("w_stat", 6).cast("double").alias("w_stat"),
        "dof_between",
        "dof_within",
    )


@query(
    "mcnemar_orders",
    oracle="""
    WITH t AS (
      SELECT CAST(o_totalprice > 250000 AS INTEGER) AS a,
             CAST((o_orderkey % 2) = 0 AS INTEGER) AS b
      FROM orders),
    c AS (
      SELECT count(*) FILTER (a = 1 AND b = 0) AS nb,
             count(*) FILTER (a = 0 AND b = 1) AS nc
      FROM t)
    SELECT CAST(round(pow(nb - nc, 2) * 1.0 / (nb + nc), 6) AS DOUBLE) AS mcnemar_stat,
           CAST(nb AS BIGINT) AS n_10, CAST(nc AS BIGINT) AS n_01
    FROM c
    """,
)
def mcnemar_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar discordant-pair statistic (gofast/stats/inferential.py:911)."""
    from gofast_spark.stats.inferential import mcnemar_test

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 250000).cast("int").alias("a"),
        ((F.col("o_orderkey") % 2) == 0).cast("int").alias("b"),
    )
    out = mcnemar_test(o, "a", "b")
    return out.select(
        F.round("mcnemar_stat", 6).cast("double").alias("mcnemar_stat"),
        "n_10",
        "n_01",
    )


@query(
    "cronbach_lineitem",
    oracle="""
    WITH t AS (
      SELECT l_quantity AS i1,
             l_quantity + l_discount * 10 AS i2,
             l_quantity + l_tax * 10 AS i3
      FROM lineitem)
    SELECT CAST(round(3.0 / 2.0 * (1 - (var_samp(i1) + var_samp(i2) + var_samp(i3))
                / var_samp(i1 + i2 + i3)), 6) AS DOUBLE) AS alpha,
           3 AS k_items
    FROM t
    """,
)
def cronbach_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over three correlated synthetic items
    (gofast/stats/inferential.py:1391)."""
    from gofast_spark.stats.inferential import cronbach_alpha

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("i1"),
        (F.col("l_quantity") + F.col("l_discount") * 10).alias("i2"),
        (F.col("l_quantity") + F.col("l_tax") * 10).alias("i3"),
    )
    out = cronbach_alpha(li, ["i1", "i2", "i3"])
    return out.select(
        F.round("alpha", 6).cast("double").alias("alpha"),
        F.col("k_items").cast("int").alias("k_items"),
    )


@query(
    "wilcoxon_orders",
    oracle="""
    WITH d AS (
      SELECT o_totalprice - (o_totalprice * 0.98 + (o_orderkey % 5000)) AS d
      FROM orders),
    nz AS (SELECT d FROM d WHERE d <> 0),
    r AS (
      SELECT d, rank() OVER (ORDER BY abs(d))
               + (count(*) OVER (PARTITION BY abs(d)) - 1) / 2.0 AS rk
      FROM nz)
    SELECT CAST(round(sum(CASE WHEN d > 0 THEN rk END), 4) AS DOUBLE) AS w_plus,
           CAST(round(sum(CASE WHEN d < 0 THEN rk END), 4) AS DOUBLE) AS w_minus,
           count(*) AS n_nonzero
    FROM r
    """,
)
def wilcoxon_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank sums over paired predictions
    (gofast/stats/inferential.py:200)."""
    from gofast_spark.stats.inferential import wilcoxon_signed_rank

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("a"),
        (F.col("o_totalprice") * 0.98 + F.col("o_orderkey") % 5000).alias("b"),
    )
    out = wilcoxon_signed_rank(o, "a", "b")
    return out.select(
        F.round("w_plus", 4).cast("double").alias("w_plus"),
        F.round("w_minus", 4).cast("double").alias("w_minus"),
        "n_nonzero",
    )


@query(
    "normal_cdf_acctbal",
    oracle="""
    WITH s AS (SELECT avg(c_acctbal) AS mu, stddev_pop(c_acctbal) AS sd FROM customer),
    z AS (SELECT c_custkey, (c_acctbal - mu) / (sd * sqrt(2.0)) AS zz FROM customer, s),
    e AS (
      SELECT c_custkey, zz, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z),
    c AS (
      SELECT c_custkey, zz,
             1.0 - (t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429))))) * exp(-abs(zz) * abs(zz)) AS erf_abs
      FROM e)
    SELECT c_custkey,
           CAST(round(CASE WHEN zz >= 0 THEN 0.5 * (1.0 + erf_abs)
                           ELSE 1.0 - 0.5 * (1.0 + erf_abs) END, 6) AS DOUBLE) AS p
    FROM c
    """,
)
def normal_cdf_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal CDF of standardized account balances (normal_cdf,
    gofast/stats/probs.py:303) — the Abramowitz-Stegun erf polynomial
    replayed coefficient-for-coefficient in DuckDB."""
    from gofast_spark.stats.probs import normal_cdf

    c = _t(spark, sf_dir, "customer")
    mu, sd = c.agg(F.avg("c_acctbal"), F.stddev_pop("c_acctbal")).first()
    out = c.select(
        "c_custkey",
        F.round(
            normal_cdf(F.col("c_acctbal"), mu=float(mu), sigma=float(sd)), 6
        ).cast("double").alias("p"),
    )
    return out


@query(
    "friedman_events",
    oracle="""
    WITH cell AS (
      SELECT user_id % 20 AS blk, event_type AS trt,
             CAST(round(avg(value), 4) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT blk, trt,
             rank() OVER (PARTITION BY blk ORDER BY v)
               + (count(*) OVER (PARTITION BY blk, v) - 1) / 2.0 AS rk
      FROM cell),
    per_t AS (SELECT trt, sum(rk) AS rsum FROM r GROUP BY trt),
    dims AS (SELECT count(DISTINCT blk) AS n, count(DISTINCT trt) AS k FROM cell)
    SELECT CAST(round(12.0 / (n * k * (k + 1)) * (SELECT sum(rsum * rsum) FROM per_t)
                - 3.0 * n * (k + 1), 6) AS DOUBLE) AS friedman_chi2,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(n AS BIGINT) AS n_blocks
    FROM dims
    """,
)
def friedman_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked-rank chi-square (gofast/stats/inferential.py:1272)
    over a user-bucket x event-type design (cell value = mean, rounded on
    both sides before ranking)."""
    from gofast_spark.stats.inferential import friedman_test

    e = _t(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 20).alias("blk"), F.col("event_type").alias("trt")
    ).agg(F.round(F.avg("value"), 4).cast("double").alias("v"))
    out = friedman_test(cells, "blk", "trt", "v")
    return out.select(
        F.round("friedman_chi2", 6).cast("double").alias("friedman_chi2"),
        "dof",
        "n_blocks",
    )


@query(
    "ks_test_purchase_view",
    oracle="""
    WITH sub AS (
      SELECT value AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('purchase', 'view')),
    pv AS (SELECT x, sum(ia) AS ca, sum(ib) AS cb FROM sub GROUP BY x),
    c AS (
      SELECT sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0 / sum(ca) OVER () AS fa,
             sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0 / sum(cb) OVER () AS fb,
             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
      FROM pv)
    SELECT CAST(round(max(abs(fa - fb)), 6) AS DOUBLE) AS ks_stat,
           CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
    FROM c
    """,
)
def ks_test_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS D statistic via cumulative-count ECDFs (ks_test,
    gofast/stats/inferential.py:1173)."""
    from gofast_spark.stats import ks_test_2samp

    e = _t(spark, sf_dir, "events")
    out = ks_test_2samp(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("ks_stat", 6).cast("double").alias("ks_stat"), "n_a", "n_b"
    )


def _bootstrap_oracle() -> str:
    from gofast_spark.stats.resampling import poisson1_weight_sql

    u = (
        "(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '_' || "
        "CAST(r.replicate AS VARCHAR) || '_17'), 1, 15)) AS BIGINT) "
        "% 2147483648)"
    )
    w = poisson1_weight_sql("uu")
    return f"""
    WITH r AS (SELECT CAST(range AS BIGINT) AS replicate FROM range(50)),
    u AS (
      SELECT r.replicate, c_acctbal AS x, {u} AS uu
      FROM customer, r
      WHERE c_acctbal IS NOT NULL),
    w AS (SELECT replicate, x, {w} AS w FROM u)
    SELECT replicate,
           CAST(round(sum(w * x) / sum(w), 2) AS DOUBLE) AS stat
    FROM w GROUP BY replicate
    """


@query("bootstrap_mean_acctbal", oracle=_bootstrap_oracle())
def bootstrap_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap distribution of mean(c_acctbal), 50 replicates
    (bootstrap, gofast/stats/inferential.py:1713), in PORTABLE draw mode:
    each weight is an inverse-CDF Poisson(1) from the md5 hash of
    (c_custkey, replicate, seed), so DuckDB reproduces the full resample
    distribution bit-for-bit and the differential oracle verifies the
    whole bootstrap, not just its shape."""
    from gofast_spark.stats import bootstrap

    c = _t(spark, sf_dir, "customer")
    out = bootstrap(
        c, "c_acctbal", n=50, statistic="mean", seed=17, key_col="c_custkey"
    )
    return out.select("replicate", F.round("stat", 2).alias("stat"))


_DCA_SEGMENTS, _DCA_ITERS = 2, 24


def _dca_power_oracle(segments: int = _DCA_SEGMENTS, t: int = _DCA_ITERS) -> str:
    """Full SQL replay of the deterministic DCA pipeline
    (stats/ordination.py dca_analysis_power): contingency cells, masses,
    densified standardized residuals, species Gram, ``t`` unrolled
    power-iteration steps with rank-1 deflation from the normalized
    ramp over sorted species, per-site axis scores, and exact
    ntile Hill detrending of axis 2.  Same MATERIALIZED-iteration
    pattern as _kpca_power_oracle (each step reads its predecessor
    twice)."""

    def it(k: int, gram: str, prev: str) -> str:
        return f"""
    mv{gram}_{k} AS MATERIALIZED (
      SELECT g.i, sum(g.v * p.x) AS x
      FROM {gram} g JOIN {prev} p ON g.j = p.i GROUP BY g.i),
    {gram}_it{k} AS MATERIALIZED (
      SELECT i, x / nrm AS x FROM mv{gram}_{k},
           (SELECT sqrt(sum(x*x)) AS nrm FROM mv{gram}_{k}))"""

    its1 = ",".join(
        it(k, "gm", f"gm_it{k-1}" if k > 1 else "x0") for k in range(1, t + 1)
    )
    its2 = ",".join(
        it(k, "gm2", f"gm2_it{k-1}" if k > 1 else "x0")
        for k in range(1, t + 1)
    )
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT c_mktsegment AS site, o_orderstatus AS species,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS t FROM cells),
    cm AS MATERIALIZED (SELECT species, sum(n) AS m FROM cells GROUP BY 1),
    rm AS (SELECT site, sum(n) AS r FROM cells GROUP BY 1),
    grid AS (
      SELECT rm.site, rm.r, cm.species, cm.m, tot.t
      FROM rm CROSS JOIN cm CROSS JOIN tot),
    s AS MATERIALIZED (
      SELECT g.site, g.species,
             (COALESCE(c.n, 0) / g.t - (g.r / g.t) * (g.m / g.t))
             / sqrt((g.r / g.t) * (g.m / g.t)) AS s
      FROM grid g
      LEFT JOIN cells c ON c.site = g.site AND c.species = g.species),
    spidx AS MATERIALIZED (
      SELECT species, row_number() OVER (ORDER BY species) - 1 AS j
      FROM cm),
    gm AS MATERIALIZED (
      SELECT ia.j AS i, ib.j AS j, sum(a.s * b.s) AS v
      FROM s a JOIN s b ON a.site = b.site
      JOIN spidx ia ON a.species = ia.species
      JOIN spidx ib ON b.species = ib.species
      GROUP BY ia.j, ib.j),
    x0 AS MATERIALIZED (
      SELECT j AS i, (j + 1) / nrm AS x
      FROM spidx, (SELECT sqrt(sum((j + 1.0) * (j + 1.0))) AS nrm
                   FROM spidx)),
    {its1},
    v1 AS MATERIALIZED (SELECT i, x FROM gm_it{t}),
    l1 AS MATERIALIZED (
      SELECT sum(a.x * g.v * b.x) AS lam
      FROM gm g JOIN v1 a ON g.i = a.i JOIN v1 b ON g.j = b.i),
    gm2 AS MATERIALIZED (
      SELECT g.i, g.j, g.v - l1.lam * a.x * b.x AS v
      FROM gm g JOIN v1 a ON g.i = a.i JOIN v1 b ON g.j = b.i
      CROSS JOIN l1),
    {its2},
    v2 AS MATERIALIZED (SELECT i, x FROM gm2_it{t}),
    l2 AS MATERIALIZED (
      SELECT sum(a.x * g.v * b.x) AS lam
      FROM gm2 g JOIN v2 a ON g.i = a.i JOIN v2 b ON g.j = b.i),
    axes AS MATERIALIZED (
      SELECT s.site,
             sum(s.s * a.x) / sqrt(greatest(l1.lam, 1e-12)) AS axis1,
             sum(s.s * b.x) / sqrt(greatest(l2.lam, 1e-12)) AS axis2
      FROM s JOIN spidx si ON s.species = si.species
      JOIN v1 a ON si.j = a.i JOIN v2 b ON si.j = b.i
      CROSS JOIN l1 CROSS JOIN l2
      GROUP BY s.site, l1.lam, l2.lam),
    seg AS (
      SELECT site, axis1, axis2,
             ntile({segments}) OVER (ORDER BY axis1, site) AS sg
      FROM axes)
    SELECT site AS c_mktsegment,
           CAST(round(axis1, 6) AS DOUBLE) AS axis1,
           CAST(round(axis2 - avg(axis2) OVER (PARTITION BY sg), 6)
             AS DOUBLE) AS axis2
    FROM seg
    """


@query("dca_segment_status_orders", oracle=_dca_power_oracle())
def dca_segment_status_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended correspondence analysis of the market-segment x
    order-status abundance table (dca_analysis,
    gofast/stats/survival_reliability.py:112) — ORACLE-BACKED since r14
    (r13 verdict ask #2, the last parked conversion): the J x J Gram
    eigen-decomposition is a fixed-24-step power iteration with rank-1
    deflation from the normalized ramp over sorted species, and Hill
    detrending uses an exact ntile over (axis1, site) — every stage a
    well-defined function of the data that the DuckDB oracle replays
    end-to-end.  The sketch-boundary production variant
    (stats/ordination.py dca_analysis) stays covered by
    dca_residual_gram_orders for its distributed core."""
    from gofast_spark.stats import dca_analysis_power

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    out = dca_analysis_power(
        joined, "c_mktsegment", "o_orderstatus",
        segments=_DCA_SEGMENTS, iters=_DCA_ITERS,
    )
    return out.select(
        "c_mktsegment",
        F.round("axis1", 6).alias("axis1"),
        F.round("axis2", 6).alias("axis2"),
    )


@query(
    "t_test_paired_lineitem",
    oracle="""
    WITH d AS (
      SELECT l_extendedprice * (1 - l_discount) - l_extendedprice * 0.95 AS dd
      FROM lineitem)
    SELECT CAST(round(avg(dd) / (stddev_samp(dd) / sqrt(count(*))), 6) AS DOUBLE) AS t_stat,
           CAST(count(*) - 1 AS BIGINT) AS dof,
           CAST(count(*) AS BIGINT) AS n
    FROM d
    """,
)
def t_test_paired_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t: discounted price vs a flat-5%% benchmark per line item
    (statistical_tests ttest_paired, gofast/stats/inferential.py:1835)."""
    from gofast_spark.stats.inferential import t_test_paired

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("a"),
        (F.col("l_extendedprice") * 0.95).alias("b"),
    )
    out = t_test_paired(li, "a", "b")
    return out.select(
        F.round("t_stat", 6).cast("double").alias("t_stat"), "dof", "n"
    )


@query(
    "cochran_q_orders",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS i1,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS i2,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS i3
      FROM orders),
    ag AS (
      SELECT CAST(sum(i1) AS DOUBLE) AS g1, CAST(sum(i2) AS DOUBLE) AS g2,
             CAST(sum(i3) AS DOUBLE) AS g3,
             CAST(sum((i1 + i2 + i3) * (i1 + i2 + i3)) AS DOUBLE) AS l2,
             CAST(sum(i1 + i2 + i3) AS DOUBLE) AS t
      FROM b)
    SELECT CAST(round(3 * 2.0 * (pow(g1 - t/3, 2) + pow(g2 - t/3, 2) + pow(g3 - t/3, 2))
                      / (3 * t - l2), 6) AS DOUBLE) AS cochran_q,
           CAST(2 AS BIGINT) AS dof
    FROM ag
    """,
)
def cochran_q_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three related binary outcomes per order
    (statistical_tests cochran_q, gofast/stats/inferential.py:1835)."""
    from gofast_spark.stats.inferential import cochran_q_test

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 150000).cast("int").alias("i1"),
        (F.col("o_orderstatus") == "F").cast("int").alias("i2"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("i3"),
    )
    out = cochran_q_test(o, ["i1", "i2", "i3"])
    return out.select(
        F.round("cochran_q", 6).cast("double").alias("cochran_q"), "dof"
    )


@query(
    "rm_anova_events",
    oracle="""
    WITH cells AS (
      SELECT user_id % 10 AS s, event_type AS c,
             CAST(round(avg(value), 4) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    g AS (SELECT avg(v) AS gm FROM cells),
    ssc AS (
      SELECT sum(ns * pow(cm - gm, 2)) AS ss FROM (
        SELECT c, avg(v) AS cm, count(*) AS ns FROM cells GROUP BY c), g),
    sss AS (
      SELECT sum(k * pow(sm - gm, 2)) AS ss FROM (
        SELECT s, avg(v) AS sm, count(*) AS k FROM cells GROUP BY s), g),
    sst AS (SELECT sum(pow(v - gm, 2)) AS ss FROM cells, g)
    SELECT CAST(round(((SELECT ss FROM ssc) / 4)
                 / (((SELECT ss FROM sst) - (SELECT ss FROM ssc) - (SELECT ss FROM sss))
                    / 36), 6) AS DOUBLE) AS f_stat,
           CAST(4 AS BIGINT) AS dof_condition,
           CAST(36 AS BIGINT) AS dof_error
    """,
)
def rm_anova_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-measures ANOVA over a user-bucket x event-type design
    (statistical_tests rm_anova, gofast/stats/inferential.py:1835); cell
    values rounded identically on both engines before the decomposition."""
    from gofast_spark.stats.inferential import rm_anova_test

    e = _t(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 10).alias("s"), F.col("event_type").alias("c")
    ).agg(F.round(F.avg("value"), 4).cast("double").alias("v"))
    out = rm_anova_test(cells, "s", "c", "v")
    return out.select(
        F.round("f_stat", 6).cast("double").alias("f_stat"),
        "dof_condition",
        "dof_error",
    )


def _kpca_power_oracle(m: int = 128, t: int = 24, g: float = 0.25) -> str:
    """Full SQL replay of the deterministic Nystrom kernel-PCA pipeline
    (ml/dimensionality.py kernel_pca_power): vec_id-ordered landmarks,
    RBF Gram + double-centering, ``t`` unrolled power-iteration steps
    from the normalized ramp start, rank-1 deflation for the second
    component, then the out-of-sample projection of every row.  CTEs are
    MATERIALIZED — each iteration references its predecessor twice
    (matvec + norm), which inlining would expand exponentially."""

    def it(k: int, gram: str, prev: str) -> str:
        return f"""
    mv{gram}_{k} AS MATERIALIZED (
      SELECT g.i, sum(g.v * p.x) AS x
      FROM {gram} g JOIN {prev} p ON g.j = p.i GROUP BY g.i),
    {gram}_it{k} AS MATERIALIZED (
      SELECT i, x / nrm AS x FROM mv{gram}_{k},
           (SELECT sqrt(sum(x*x)) AS nrm FROM mv{gram}_{k}))"""

    its1 = ",".join(
        it(k, "kc", f"kc_it{k-1}" if k > 1 else "x0") for k in range(1, t + 1)
    )
    its2 = ",".join(
        it(k, "kc2", f"kc2_it{k-1}" if k > 1 else "x0") for k in range(1, t + 1)
    )
    return f"""
    WITH lmraw AS MATERIALIZED (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS e0,
             CAST(embedding[2] AS DOUBLE) AS e1,
             CAST(embedding[3] AS DOUBLE) AS e2,
             CAST(embedding[4] AS DOUBLE) AS e3
      FROM embeddings
      WHERE vec_id IS NOT NULL
        AND embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
        AND embedding[3] IS NOT NULL AND embedding[4] IS NOT NULL
      ORDER BY vec_id LIMIT {m}),
    lm AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, * FROM lmraw),
    gram AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             exp(-{g} * (pow(a.e0-b.e0,2) + pow(a.e1-b.e1,2)
                         + pow(a.e2-b.e2,2) + pow(a.e3-b.e3,2))) AS kv
      FROM lm a CROSS JOIN lm b),
    rmean AS MATERIALIZED (SELECT i, avg(kv) AS rm FROM gram GROUP BY i),
    gmean AS MATERIALIZED (SELECT avg(kv) AS mm FROM gram),
    kc AS MATERIALIZED (
      SELECT g.i, g.j, g.kv - ra.rm - rb.rm + gm.mm AS v
      FROM gram g JOIN rmean ra ON g.i = ra.i
      JOIN rmean rb ON g.j = rb.i CROSS JOIN gmean gm),
    x0 AS MATERIALIZED (
      SELECT i, (i+1) / nrm AS x FROM (SELECT i FROM lm),
           (SELECT sqrt(sum((i+1.0)*(i+1.0))) AS nrm FROM lm)),
    {its1},
    v1 AS MATERIALIZED (SELECT i, x FROM kc_it{t}),
    l1 AS MATERIALIZED (
      SELECT sum(a.x * k.v * b.x) AS lam
      FROM kc k JOIN v1 a ON k.i = a.i JOIN v1 b ON k.j = b.i),
    kc2 AS MATERIALIZED (
      SELECT k.i, k.j, k.v - l1.lam * a.x * b.x AS v
      FROM kc k JOIN v1 a ON k.i = a.i JOIN v1 b ON k.j = b.i
      CROSS JOIN l1),
    {its2},
    v2 AS MATERIALIZED (SELECT i, x FROM kc2_it{t}),
    l2 AS MATERIALIZED (
      SELECT sum(a.x * k.v * b.x) AS lam
      FROM kc2 k JOIN v2 a ON k.i = a.i JOIN v2 b ON k.j = b.i),
    allx AS MATERIALIZED (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS e0,
             CAST(embedding[2] AS DOUBLE) AS e1,
             CAST(embedding[3] AS DOUBLE) AS e2,
             CAST(embedding[4] AS DOUBLE) AS e3
      FROM embeddings
      WHERE vec_id IS NOT NULL
        AND embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
        AND embedding[3] IS NOT NULL AND embedding[4] IS NOT NULL),
    kx AS MATERIALIZED (
      SELECT x.vec_id, l.i AS j,
             exp(-{g} * (pow(x.e0-l.e0,2) + pow(x.e1-l.e1,2)
                         + pow(x.e2-l.e2,2) + pow(x.e3-l.e3,2))) AS kv
      FROM allx x CROSS JOIN lm l),
    kxm AS MATERIALIZED (SELECT vec_id, avg(kv) AS xm FROM kx GROUP BY vec_id),
    kxc AS MATERIALIZED (
      SELECT k.vec_id, k.j, k.kv - m.xm - r.rm + gm.mm AS v
      FROM kx k JOIN kxm m ON k.vec_id = m.vec_id
      JOIN rmean r ON k.j = r.i CROSS JOIN gmean gm)
    SELECT k.vec_id,
           CAST(round(sum(k.v * a.x) / sqrt(greatest(l1.lam, 1e-12)), 4)
             + 0.0 AS DOUBLE) AS kpca_0,
           CAST(round(sum(k.v * b.x) / sqrt(greatest(l2.lam, 1e-12)), 4)
             + 0.0 AS DOUBLE) AS kpca_1
    FROM kxc k JOIN v1 a ON k.j = a.i JOIN v2 b ON k.j = b.i
    CROSS JOIN l1 CROSS JOIN l2
    GROUP BY k.vec_id, l1.lam, l2.lam
    """


@query("kernel_pca_embeddings", oracle=_kpca_power_oracle())
def kernel_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nystrom kernel-PCA scores over the first four embedding dimensions
    (kPCA, gofast/analysis/dimensionality.py:443), ORACLE-BACKED since
    r13 via the deterministic variant (r12 verdict ask #3): landmarks
    are the 128 smallest vec_id rows and the centered-Gram eigenpairs
    come from a fixed-24-step power iteration with deflation from the
    normalized ramp start — a well-defined function of the data both
    engines replay to ~1e-12, hash-exact after round-4 quantization.
    The seeded-hash/eigh production path stays covered by the
    kpca_landmark_identity companion (green r6)."""
    from gofast_spark.ml import kernel_pca_power

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[
            F.element_at(F.col("embedding"), i + 1).cast("double").alias(f"e{i}")
            for i in range(4)
        ],
    )
    out = kernel_pca_power(
        e, ["e0", "e1", "e2", "e3"], id_col="vec_id", k=2,
        landmarks=128, iters=24,
    )
    return out.select(
        "vec_id",
        # + 0.0 folds DuckDB's -0.0 round of a tiny negative to +0.0,
        # the value Spark's round gives
        (F.round("kpca_0", 4) + 0.0).alias("kpca_0"),
        (F.round("kpca_1", 4) + 0.0).alias("kpca_1"),
    )


def _mixed_effects_oracle() -> str:
    """Unrolled IGLS chain in plain SQL, mirroring
    stats.mixed.mixed_effects_model exactly: per-group sufficient stats,
    OLS via Cramer (d=2), ANOVA method-of-moments components, Woodbury
    GLS per iteration, 20 iterations max with the same 1e-6 relative
    convergence freeze.  Each iteration is a CTE reading the previous
    state plus two lateral aggregates over the 3-row group frame."""
    comps = """
      SELECT greatest(
               (sum(srr) - sum(sr * sr / n))
               / greatest(t.N - t.G, 1.0), 1e-12) AS s2,
             greatest(((sum(sr * sr / n) - sum(sr) * sum(sr) / t.N)
               / greatest(t.G - 1.0, 1.0)
               - greatest((sum(srr) - sum(sr * sr / n))
                          / greatest(t.N - t.G, 1.0), 1e-12))
               / greatest((t.N - sum(n * n) / t.N)
                          / greatest(t.G - 1.0, 1.0), 1.0), 0.0) AS s2u
      FROM (SELECT n,
                   sy - {b0} * n - {b1} * sx AS sr,
                   yy - 2 * ({b0} * sy + {b1} * xy)
                      + ({b0} * {b0} * n + 2 * {b0} * {b1} * sx
                         + {b1} * {b1} * xx) AS srr
            FROM grp)
    """
    its = []
    for k in range(1, 21):
        p = f"it{k-1}"
        its.append(f"""
    it{k} AS (
      SELECT CASE WHEN p.done THEN p.i ELSE p.i + 1 END AS i,
             CASE WHEN p.done THEN p.b0 ELSE gl.nb0 END AS b0,
             CASE WHEN p.done THEN p.b1 ELSE gl.nb1 END AS b1,
             CASE WHEN p.done THEN p.s2 ELSE cp.s2 END AS s2,
             CASE WHEN p.done THEN p.s2u ELSE cp.s2u END AS s2u,
             CASE WHEN p.done THEN p.lam ELSE cp.s2u / cp.s2 END AS lam,
             p.done OR abs(cp.s2u / cp.s2 - p.lam)
                       <= 1e-6 * greatest(p.lam, 1.0) AS done
      FROM {p} p CROSS JOIN tot t
      CROSS JOIN LATERAL (
        SELECT (b0v * a11 - a01 * b1v) / (a00 * a11 - a01 * a01) AS nb0,
               (a00 * b1v - a01 * b0v) / (a00 * a11 - a01 * a01) AS nb1
        FROM (SELECT sum(n - p.lam / (1 + n * p.lam) * n * n) AS a00,
                     sum(sx - p.lam / (1 + n * p.lam) * n * sx) AS a01,
                     sum(xx - p.lam / (1 + n * p.lam) * sx * sx) AS a11,
                     sum(sy - p.lam / (1 + n * p.lam) * n * sy) AS b0v,
                     sum(xy - p.lam / (1 + n * p.lam) * sx * sy) AS b1v
              FROM grp)) gl
      CROSS JOIN LATERAL (
        {comps.format(b0='gl.nb0', b1='gl.nb1')}) cp)""")
    return f"""
    WITH grp AS (
      SELECT l_returnflag AS g,
             CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(l_quantity AS DOUBLE)) AS sx,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS xx,
             sum(CAST(l_extendedprice AS DOUBLE)) AS sy,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS xy,
             sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS yy
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_returnflag IS NOT NULL
      GROUP BY l_returnflag),
    tot AS (
      SELECT sum(n) AS N, CAST(count(*) AS DOUBLE) AS G,
             sum(n) AS a00t, sum(sx) AS a01t, sum(xx) AS a11t,
             sum(sy) AS b0t, sum(xy) AS b1t
      FROM grp),
    it0 AS (
      SELECT 0 AS i, gl.nb0 AS b0, gl.nb1 AS b1,
             cp.s2 AS s2, cp.s2u AS s2u, cp.s2u / cp.s2 AS lam,
             false AS done
      FROM tot t
      CROSS JOIN LATERAL (
        SELECT (t.b0t * t.a11t - t.a01t * t.b1t)
               / (t.a00t * t.a11t - t.a01t * t.a01t) AS nb0,
               (t.a00t * t.b1t - t.a01t * t.b0t)
               / (t.a00t * t.a11t - t.a01t * t.a01t) AS nb1) gl
      CROSS JOIN LATERAL (
        {comps.format(b0='gl.nb0', b1='gl.nb1')}) cp),
    {','.join(its)},
    fin AS (SELECT f.*, t.N, t.G FROM it20 f CROSS JOIN tot t)
    SELECT term, CAST(round(value, 4) AS DOUBLE) AS value FROM (
      SELECT 'intercept' AS term, b0 AS value FROM fin
      UNION ALL SELECT 'l_quantity', b1 FROM fin
      UNION ALL SELECT 'sigma2', s2 FROM fin
      UNION ALL SELECT 'sigma2_u', s2u FROM fin
      UNION ALL SELECT 'lambda', lam FROM fin
      UNION ALL SELECT 'n_groups', G FROM fin
      UNION ALL SELECT 'n_obs', N FROM fin)
    """


@query("mixed_effects_lineitem", oracle=_mixed_effects_oracle())
def mixed_effects_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-intercept mixed model: extended price on quantity with a
    return-flag random intercept (mixed_effects_model,
    gofast/stats/inferential.py:661).  The IGLS fixed point IS
    SQL-expressible for d=2: the oracle unrolls 20 Woodbury-GLS /
    method-of-moments iterations over the per-group sufficient
    statistics with the same convergence freeze, so the driver
    hash-verifies the whole fit."""
    from gofast_spark.stats import mixed_effects_model

    li = _t(spark, sf_dir, "lineitem")
    out = mixed_effects_model(
        li, "l_extendedprice", ["l_quantity"], "l_returnflag"
    )
    return out.select("term", F.round("value", 4).alias("value"))


@query(
    "jarque_bera_lineitem",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n, avg(l_quantity) AS m1,
             avg(l_quantity * l_quantity) AS m2,
             avg(l_quantity * l_quantity * l_quantity) AS m3,
             avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4
      FROM lineitem),
    c AS (
      SELECT n,
             m2 - m1 * m1 AS c2,
             m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS c3,
             m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1 AS c4
      FROM m)
    SELECT CAST(round(n / 6.0 * (pow(c3 / pow(c2, 1.5), 2)
                 + pow(c4 / (c2 * c2) - 3, 2) / 4.0), 4) AS DOUBLE) AS jb_stat,
           CAST(round(c3 / pow(c2, 1.5), 6) AS DOUBLE) AS skewness,
           CAST(round(c4 / (c2 * c2), 6) AS DOUBLE) AS kurtosis,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def jarque_bera_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality of l_quantity from one moment aggregate
    (NormalityTests, gofast/stats/evaluation.py:904 — the moment-based
    equivalent of its order-statistic tests)."""
    from gofast_spark.stats import jarque_bera

    out = jarque_bera(_t(spark, sf_dir, "lineitem"), "l_quantity")
    return out.select(
        F.round("jb_stat", 4).cast("double").alias("jb_stat"),
        F.round("skewness", 6).cast("double").alias("skewness"),
        F.round("kurtosis", 6).cast("double").alias("kurtosis"),
        "n",
    )


@query(
    "chi2_gof_orderstatus",
    oracle="""
    WITH o AS (SELECT o_orderstatus AS c, count(*) * 1.0 AS obs FROM orders GROUP BY 1),
    t AS (SELECT sum(obs) AS total, count(*) AS k FROM o)
    SELECT CAST(round(sum(pow(obs - total / k, 2) / (total / k)), 4) AS DOUBLE) AS chi2_stat,
           CAST(max(k) - 1 AS BIGINT) AS dof,
           CAST(sum(obs) AS BIGINT) AS n
    FROM o, t
    """,
)
def chi2_gof_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of order status against uniformity
    (GoodnessOfFit, gofast/stats/evaluation.py:339)."""
    from gofast_spark.stats import chi2_gof

    out = chi2_gof(_t(spark, sf_dir, "orders"), "o_orderstatus")
    return out.select(
        F.round("chi2_stat", 4).cast("double").alias("chi2_stat"), "dof", "n"
    )


@query(
    "durbin_watson_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(round(sum(value), 4) AS DOUBLE) AS v
      FROM events GROUP BY 1),
    m AS (SELECT avg(v) AS mu FROM daily),
    e AS (SELECT d, v - mu AS r FROM daily, m),
    l AS (SELECT r, lag(r) OVER (ORDER BY d) AS rp FROM e)
    SELECT CAST(round(sum(pow(r - rp, 2)) / sum(r * r), 6) AS DOUBLE) AS dw_stat,
           CAST(count(*) AS BIGINT) AS n
    FROM l
    """,
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson over demeaned daily revenue residuals
    (ResidualAnalysis, gofast/stats/evaluation.py:1318)."""
    from gofast_spark.stats import durbin_watson

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(F.sum("value"), 4).cast("double").alias("v")
    )
    # 1-row mean rides a broadcast cross join — no eager driver collect
    # inside a query builder (VERDICT r5 #6; idiom of stats/inferential)
    mu = daily.agg(F.avg("v").alias("__mu"))
    resid = daily.crossJoin(F.broadcast(mu)).select(
        "d", (F.col("v") - F.col("__mu")).alias("r")
    )
    out = durbin_watson(resid, "r", "d")
    return out.select(
        F.round("dw_stat", 6).cast("double").alias("dw_stat"), "n"
    )


@query(
    "gradient_descent_lineitem",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT CAST(count(*) AS DOUBLE) AS a00,
             sum(CAST(l_quantity AS DOUBLE)) AS a01,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS a11,
             sum(CAST(l_extendedprice AS DOUBLE)) AS b0,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b1,
             CAST(count(*) AS DOUBLE) AS n
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    it AS (
      SELECT 0 AS i, CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1
      UNION ALL
      SELECT i + 1,
             w0 - 0.0001 * (a00 * w0 + a01 * w1 - b0) / n,
             w1 - 0.0001 * (a01 * w0 + a11 * w1 - b1) / n
      FROM it, m WHERE it.i < 50)
    SELECT CAST(round(w0, 4) AS DOUBLE) AS w0,
           CAST(round(w1, 4) AS DOUBLE) AS w1,
           CAST(n AS BIGINT) AS n
    FROM it, m ORDER BY i DESC LIMIT 1
    """,
)
def gradient_descent_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch GD fit of extended price on quantity, 50 epochs at
    alpha=1e-4 (gradient_descent, gofast/utils/mathext.py:5008).  The
    update touches only the moment matrices, so the oracle replays the
    identical epoch recurrence in a recursive CTE over one aggregate —
    the driver hash-verifies every epoch's arithmetic."""
    from gofast_spark.ml import gradient_descent

    li = _t(spark, sf_dir, "lineitem")
    w, _hist = gradient_descent(
        li, "l_quantity", "l_extendedprice", alpha=1e-4, n_epochs=50
    )
    n = li.where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).count()
    return spark.createDataFrame(
        [(round(w[0], 4), round(w[1], 4), n)], "w0 double, w1 double, n bigint"
    )


def _linkage_oracle(m: int = 25) -> str:
    """Full SQL replay of the complete-linkage merge loop over the
    ``m`` nation points (ml/optim.py linkage_matrix): m-1 unrolled
    argmin-merge iterations.  Every linkage height is the correctly
    rounded sqrt of an integer (IEEE sqrt is exact), so distance
    comparisons, the smaller-(a,b)-pair tie-break, and the max-based
    complete-linkage updates are engine-exact — the merge sequence is
    deterministic bit-for-bit, not merely to float noise.  Cluster-pair
    distances are recomputed from the original point distances each
    step (d(A,B) = max over member pairs), which is equivalent to the
    Lance-Williams max update and keeps each CTE a 625-row join."""
    its = []
    for k in range(1, m):
        prev = f"s{k-1}"
        new_id = m + k - 1
        its.append(f"""
    m{k} AS MATERIALIZED (
      SELECT ca, cb, d,
             (SELECT count(*) FROM {prev} WHERE cl = q.ca OR cl = q.cb)
               AS size
      FROM (
        SELECT least(x.cl, y.cl) AS ca, greatest(x.cl, y.cl) AS cb,
               max(pd.d) AS d
        FROM {prev} x JOIN {prev} y ON x.cl < y.cl
        JOIN pd ON pd.pa = x.pid AND pd.pb = y.pid
        GROUP BY 1, 2
        ORDER BY 3, 1, 2 LIMIT 1) q),
    s{k} AS MATERIALIZED (
      SELECT s.pid,
             CASE WHEN s.cl = m.ca OR s.cl = m.cb THEN {new_id}
                  ELSE s.cl END AS cl
      FROM {prev} s CROSS JOIN m{k} m)""")
    finals = " UNION ALL ".join(
        f"SELECT {k-1} AS step, CAST(ca AS INT) AS a, CAST(cb AS INT) AS b, "
        f"CAST(round(d, 6) AS DOUBLE) AS dist, CAST(size AS INT) AS size "
        f"FROM m{k}"
        for k in range(1, m)
    )
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS pid,
             CAST(n_regionkey AS DOUBLE) AS x,
             CAST(n_nationkey AS DOUBLE) AS y
      FROM nation
      WHERE n_regionkey IS NOT NULL AND n_nationkey IS NOT NULL),
    pd AS MATERIALIZED (
      SELECT a.pid AS pa, b.pid AS pb,
             sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS d
      FROM pts a JOIN pts b ON a.pid <> b.pid),
    s0 AS MATERIALIZED (SELECT pid, pid AS cl FROM pts),
    {','.join(its)}
    SELECT * FROM ({finals}) ORDER BY step
    """


@query("linkage_matrix_nation", oracle=_linkage_oracle())
def linkage_matrix_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-linkage agglomerative merges over the 25 nation points
    (linkage_matrix, gofast/utils/mathext.py:5222), ORACLE-BACKED since
    r13 (r12 verdict ask #3): leaves are numbered by the natural
    n_nationkey order (order_by= replaces the engine-specific seeded
    hash), every merge height is the exact sqrt of an integer, and the
    DuckDB oracle replays all 24 argmin-merge iterations unrolled —
    scipy id encoding (merge k creates cluster 25+k) and the
    smaller-(a,b)-pair tie-break included.  Exact merge semantics are
    also unit-tested against hand-computed examples in
    tests/test_optim.py."""
    from gofast_spark.ml import linkage_matrix

    n = _t(spark, sf_dir, "nation")
    merges = linkage_matrix(
        n,
        ["n_regionkey", "n_nationkey"],
        method="complete",
        order_by=["n_nationkey"],
    )
    rows = [
        (i, int(a), int(b), round(dist, 6), int(size))
        for i, (a, b, dist, size) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, a int, b int, dist double, size int"
    )


@query(
    "dca_residual_gram_orders",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS site, o_orderstatus AS species,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS t FROM cells),
    cm AS (SELECT species, sum(n) AS m FROM cells GROUP BY 1),
    rm AS (SELECT site, sum(n) AS r FROM cells GROUP BY 1),
    grid AS (
      SELECT rm.site, rm.r, cm.species, cm.m, tot.t
      FROM rm CROSS JOIN cm CROSS JOIN tot),
    s AS (
      SELECT g.site, g.species,
             (COALESCE(c.n, 0) / g.t - (g.r / g.t) * (g.m / g.t))
             / sqrt((g.r / g.t) * (g.m / g.t)) AS s
      FROM grid g
      LEFT JOIN cells c ON c.site = g.site AND c.species = g.species)
    SELECT a.species AS sp_a, b.species AS sp_b,
           CAST(round(sum(a.s * b.s), 6) AS DOUBLE) AS g
    FROM s a JOIN s b ON a.site = b.site
    GROUP BY 1, 2
    """,
)
def dca_residual_gram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed core of DCA (stats.ordination.ca_residuals +
    species Gram), verified differentially: contingency table, masses,
    densified standardized residuals, species x species Gram — exactly
    the stages that touch the data at scale.  Only the J x J
    eigendecomposition (J = |order statuses| = 3) stays driver-side,
    as VERDICT r5 #4 prescribed for the parked dca_segment_status_orders
    (which remains rows-only for the full axis scores)."""
    from gofast_spark.stats import ca_residuals

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    s = ca_residuals(joined, "c_mktsegment", "o_orderstatus")
    s2 = s.select(
        F.col("site"), F.col("species").alias("sp_b"), F.col("s").alias("s_b")
    )
    return (
        s.join(s2, on="site")
        .groupBy(F.col("species").alias("sp_a"), F.col("sp_b"))
        .agg(F.round(F.sum(F.col("s") * F.col("s_b")), 6).alias("g"))
    )


@query(
    "linkage_invariants_nation",
    oracle="""
    WITH p AS (
      SELECT sqrt(pow(a.n_regionkey - b.n_regionkey, 2)
                  + pow(a.n_nationkey - b.n_nationkey, 2)) AS d
      FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey)
    SELECT CAST(24 AS INT) AS n_merges,
           CAST(1 AS INT) AS monotone_ok,
           CAST(25 AS INT) AS final_size,
           CAST(round(min(d), 6) AS DOUBLE) AS first_d,
           CAST(round(max(d), 6) AS DOUBLE) AS max_d
    FROM p
    """,
)
def linkage_invariants_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkable-invariant oracle for the parked linkage_matrix_nation
    (VERDICT r5 #4): complete-linkage merge heights are monotone
    nondecreasing; the FIRST merge height equals the global minimum
    pairwise distance (the first merge is the argmin pair); the MAXIMUM
    merge height equals the global maximum pairwise distance (the
    clusters holding the farthest pair stay separate until a merge whose
    complete-linkage height is exactly that distance); n-1 merges end in
    one cluster of n.  DuckDB computes the pairwise extremes
    independently from the nation coordinates."""
    from gofast_spark.ml import linkage_matrix

    n = _t(spark, sf_dir, "nation")
    merges = linkage_matrix(
        n, ["n_regionkey", "n_nationkey"], method="complete"
    )
    dists = [d for (_, _, d, _) in merges]
    monotone = all(b >= a - 1e-12 for a, b in zip(dists, dists[1:]))
    row = (
        len(merges),
        int(monotone),
        int(merges[-1][3]),
        round(dists[0], 6),
        round(max(dists), 6),
    )
    return spark.createDataFrame(
        [row],
        "n_merges int, monotone_ok int, final_size int, "
        "first_d double, max_d double",
    )


@query(
    "kpca_landmark_identity",
    oracle="""
    SELECT CAST(1 AS INT) AS centered0_ok, CAST(1 AS INT) AS centered1_ok,
           CAST(1 AS INT) AS ortho_ok, CAST(1 AS INT) AS var_order_ok,
           CAST(128 AS BIGINT) AS n_landmarks
    """,
)
def kpca_landmark_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkable-invariant oracle for the parked kernel_pca_embeddings
    (VERDICT r5 #4): restricted to the landmark rows (re-identified by
    the same seeded lowest-hash order the trainer used), the Nystrom
    scores satisfy EXACT algebraic identities of kernel PCA — centered
    scores sum to zero (1'KcV = 0), distinct components are orthogonal
    (V orthonormal => Z'Z = diag(lambda)), and component score energy is
    eigenvalue-ordered.  Float residuals observed ~1e-14; tolerance 1e-6.
    A centering/eigh/projection regression flips a flag and fails the
    hash."""
    from gofast_spark.ml import kernel_pca

    e = _t(spark, sf_dir, "embeddings").select(
        *[
            F.element_at(F.col("embedding"), i + 1).cast("double").alias(f"e{i}")
            for i in range(4)
        ]
    )
    out = kernel_pca(
        e, ["e0", "e1", "e2", "e3"], k=2, landmarks=128, seed=7
    )
    lm = out.orderBy(
        F.xxhash64(F.lit(7), F.col("e0"), F.col("e1"), F.col("e2"), F.col("e3"))
    ).limit(128)
    tol = 1e-6
    return lm.agg(
        (F.abs(F.sum("kpca_0")) < tol).cast("int").alias("centered0_ok"),
        (F.abs(F.sum("kpca_1")) < tol).cast("int").alias("centered1_ok"),
        (F.abs(F.sum(F.col("kpca_0") * F.col("kpca_1"))) < tol)
        .cast("int")
        .alias("ortho_ok"),
        (F.sum(F.col("kpca_0") ** 2) >= F.sum(F.col("kpca_1") ** 2))
        .cast("int")
        .alias("var_order_ok"),
        F.count(F.lit(1)).alias("n_landmarks"),
    )


def _det3_sql(m) -> str:
    """3x3 determinant with the SAME fixed expression order as
    ml.regression._det3, so both engines walk one expression tree."""
    return (
        f"({m[0][0]}) * (({m[1][1]}) * ({m[2][2]}) - ({m[1][2]}) * ({m[2][1]}))"
        f" - ({m[0][1]}) * (({m[1][0]}) * ({m[2][2]}) - ({m[1][2]}) * ({m[2][0]}))"
        f" + ({m[0][2]}) * (({m[1][0]}) * ({m[2][1]}) - ({m[1][1]}) * ({m[2][0]}))"
    )


def _ols_oracle() -> str:
    A = [["a00", "a01", "a02"], ["a01", "a11", "a12"], ["a02", "a12", "a22"]]
    b = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[b[i] if k == j else A[i][k] for k in range(3)] for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    return f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS a00,
             sum(CAST(l_quantity AS DOUBLE)) AS a01,
             sum(CAST(l_discount AS DOUBLE)) AS a02,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS a11,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a12,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a22,
             sum(CAST(l_extendedprice AS DOUBLE)) AS b0,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b1,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b2,
             sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS yy,
             count(*) AS n
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    w AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2, * FROM m),
    s AS (
      SELECT *,
             yy - 2 * (w0 * b0 + w1 * b1 + w2 * b2)
                + (w0 * (a00 * w0 + a01 * w1 + a02 * w2)
                   + w1 * (a01 * w0 + a11 * w1 + a12 * w2)
                   + w2 * (a02 * w0 + a12 * w1 + a22 * w2)) AS sse,
             yy - b0 * b0 / a00 AS sst
      FROM w)
    SELECT CAST(round(w0, 4) AS DOUBLE) AS w0,
           CAST(round(w1, 4) AS DOUBLE) AS w1,
           CAST(round(w2, 4) AS DOUBLE) AS w2,
           CAST(round(1.0 - sse / sst, 6) AS DOUBLE) AS r2,
           CAST(n AS BIGINT) AS n
    FROM s
    """


@query("ols_normal_eq_lineitem", oracle=_ols_oracle())
def ols_normal_eq_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of extended price on (quantity, discount) by
    normal equations (ml/regression.py): ONE distributed moment
    aggregation, Cramer 3x3 solve in fixed-order IEEE arithmetic, R^2
    from the same moments — fit plus goodness-of-fit in a single Spark
    job.  The oracle recomputes the moments and replays the identical
    determinant expression tree."""
    from gofast_spark.ml import fit_linear_regression

    li = _t(spark, sf_dir, "lineitem")
    m = fit_linear_regression(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        solver="cramer",
    )
    w = m["coef"]
    return spark.createDataFrame(
        [(
            round(w[0], 4), round(w[1], 4), round(w[2], 4),
            round(m["r2"], 6), m["n"],
        )],
        "w0 double, w1 double, w2 double, r2 double, n bigint",
    )


def _logit_oracle(n_iter: int = 3) -> str:
    """Layered Newton replay: each iteration is a CTE aggregating the
    sigmoid-weighted moments at the previous layer's weights, then the
    SAME fixed-order Cramer 2x2 update as ml.regression._cramer_solve."""
    layers = ["w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"]
    prev = "w0"
    for k in range(1, n_iter + 1):
        p = f"(1.0 / (1.0 + exp(-({prev}.w0 * 1.0 + {prev}.w1 * d.x))))"
        layers.append(f"""a{k} AS (
      SELECT sum({p} * (1.0 - {p}) * 1.0 * 1.0) AS h00,
             sum({p} * (1.0 - {p}) * 1.0 * d.x) AS h01,
             sum({p} * (1.0 - {p}) * d.x * d.x) AS h11,
             sum((d.y - {p}) * 1.0) AS g0,
             sum((d.y - {p}) * d.x) AS g1,
             count(*) AS n
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1,
             a{k}.n AS n
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
    {cte}
    SELECT CAST(round(w0, 5) AS DOUBLE) AS w0,
           CAST(round(w1, 5) AS DOUBLE) AS w1,
           CAST(n AS BIGINT) AS n
    FROM {prev}
    """


@query("logistic_newton_orders", oracle=_logit_oracle(3))
def logistic_newton_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of order finality on total price by Newton /
    IRLS (ml/regression.py): 3 iterations, each ONE distributed
    sigmoid-weighted moment aggregation + a fixed-order Cramer 2x2
    update on the driver.  The oracle unrolls all three Newton layers as
    CTEs, re-aggregating the table at each layer's weights — the driver
    hash-verifies the entire optimization trajectory."""
    from gofast_spark.ml import fit_logistic_regression

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    ).where(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    m = fit_logistic_regression(d, ["x"], "y", n_iter=3, solver="cramer")
    w = m["coef"]
    return spark.createDataFrame(
        [(round(w[0], 5), round(w[1], 5), m["n"])],
        "w0 double, w1 double, n bigint",
    )


def _grouped_ols_oracle() -> str:
    A = [["a00", "a01", "a02"], ["a01", "a11", "a12"], ["a02", "a12", "a22"]]
    b = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[b[i] if k == j else A[i][k] for k in range(3)] for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    return f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS a00,
             sum(CAST(l_quantity AS DOUBLE)) AS a01,
             sum(CAST(l_discount AS DOUBLE)) AS a02,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS a11,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a12,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a22,
             sum(CAST(l_extendedprice AS DOUBLE)) AS b0,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b1,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b2,
             sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS yy,
             count(*) AS n
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL
      GROUP BY l_returnflag),
    w AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2, * FROM m),
    s AS (
      SELECT *,
             yy - 2 * (w0 * b0 + w1 * b1 + w2 * b2)
                + (w0 * (a00 * w0 + a01 * w1 + a02 * w2)
                   + w1 * (a01 * w0 + a11 * w1 + a12 * w2)
                   + w2 * (a02 * w0 + a12 * w1 + a22 * w2)) AS sse,
             yy - b0 * b0 / a00 AS sst
      FROM w)
    SELECT l_returnflag,
           CAST(round(w0, 4) AS DOUBLE) AS w0,
           CAST(round(w1, 4) AS DOUBLE) AS w1,
           CAST(round(w2, 4) AS DOUBLE) AS w2,
           CAST(round(1.0 - sse / sst, 6) AS DOUBLE) AS r2,
           CAST(n AS BIGINT) AS n
    FROM s
    """


@query("grouped_ols_lineitem", oracle=_grouped_ols_oracle())
def grouped_ols_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-per-segment training, fully in-plan (ml/regression.py
    fit_linear_regression_grouped): per-returnflag OLS of extended
    price on (quantity, discount) — the normal-equation moments come
    out of ONE groupBy and the Cramer solve runs as column expressions,
    so a million segment models cost one aggregation and nothing is
    ever collected.  Same fixed-order determinant tree as the global
    fitter's oracle."""
    from gofast_spark.ml.regression import fit_linear_regression_grouped

    li = _t(spark, sf_dir, "lineitem")
    out = fit_linear_regression_grouped(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        ["l_returnflag"],
    )
    return out.select(
        "l_returnflag",
        F.round("w_0", 4).cast("double").alias("w0"),
        F.round("w_1", 4).cast("double").alias("w1"),
        F.round("w_2", 4).cast("double").alias("w2"),
        F.round("r2", 6).cast("double").alias("r2"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "mann_whitney_events",
    oracle="""
    WITH src AS (
      SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('purchase', 'view')),
    pv AS (
      SELECT v, CAST(count(*) AS DOUBLE) AS c, CAST(sum(ia) AS DOUBLE) AS ca
      FROM src GROUP BY v),
    r AS (
      SELECT c, ca,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS mr
      FROM pv),
    a AS (
      SELECT sum(ca * mr) AS ra, sum(ca) AS na, sum(c) AS n,
             sum(c * c * c - c) AS ties
      FROM r)
    SELECT CAST(round(ra - na * (na + 1) / 2.0, 4) AS DOUBLE) AS u_a,
           CAST(round(na * (n - na) - (ra - na * (na + 1) / 2.0), 4)
             AS DOUBLE) AS u_b,
           CAST(round(((ra - na * (na + 1) / 2.0) - na * (n - na) / 2.0)
             / sqrt(na * (n - na) / 12.0
                    * ((n + 1) - ties / (n * (n - 1)))), 6) AS DOUBLE) AS z,
           CAST(na AS BIGINT) AS n_a,
           CAST(n - na AS BIGINT) AS n_b
    FROM a
    """,
)
def mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test, purchase vs view event values
    (stats/inferential.py mann_whitney_u): distinct-value midrank
    frame, rank sums as count*midrank aggregates, tie-corrected normal
    z — never a full-table rank window."""
    from gofast_spark.stats.inferential import mann_whitney_u

    e = _t(spark, sf_dir, "events")
    out = mann_whitney_u(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("u_a", 4).cast("double").alias("u_a"),
        F.round("u_b", 4).cast("double").alias("u_b"),
        F.round("z", 6).cast("double").alias("z"),
        "n_a",
        "n_b",
    )


@query(
    "cohens_d_events",
    oracle="""
    WITH a AS (
      SELECT sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END) AS na,
             sum(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0 END) AS nb,
             sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE)
                      ELSE 0 END) AS sa,
             sum(CASE WHEN event_type = 'view' THEN CAST(value AS DOUBLE)
                      ELSE 0 END) AS sb,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                      ELSE 0 END) AS qa,
             sum(CASE WHEN event_type = 'view'
                      THEN CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                      ELSE 0 END) AS qb
      FROM events WHERE event_type IN ('purchase', 'view'))
    SELECT CAST(round((sa / na - sb / nb)
             / sqrt(((qa - sa * sa / na) + (qb - sb * sb / nb))
                    / (na + nb - 2)), 6) AS DOUBLE) AS d,
           CAST(round(sa / na, 6) AS DOUBLE) AS mean_a,
           CAST(round(sb / nb, 6) AS DOUBLE) AS mean_b,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM a
    """,
)
def cohens_d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size, purchase vs view values
    (stats/inferential.py cohens_d): one sufficient-statistic
    aggregate — the magnitude companion to the t/U significance
    tests."""
    from gofast_spark.stats.inferential import cohens_d

    e = _t(spark, sf_dir, "events")
    out = cohens_d(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("d", 6).cast("double").alias("d"),
        F.round("mean_a", 6).cast("double").alias("mean_a"),
        F.round("mean_b", 6).cast("double").alias("mean_b"),
        "n_a",
        "n_b",
    )


@query(
    "spearman_auto_binned_floor",
    oracle="""
    WITH t AS (
      SELECT CAST(i AS DOUBLE) AS x,
             CAST((i * 76597) % 999983 AS DOUBLE) AS y
      FROM range(150000) r(i)
    ), rk AS (
      SELECT rank() OVER (ORDER BY x) AS rx,
             rank() OVER (ORDER BY y) AS ry
      FROM t
    )
    SELECT CAST(round(corr(rx, ry), 6) AS DOUBLE) AS exact_rho,
           1 AS auto_within_tol
    FROM rk
    """,
)
def spearman_auto_binned_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGAGED default-'auto' pre-binning path (VERDICT r6 #4): a
    150k-distinct synthetic pair (multiplicative permutation mod the
    prime 999983, bijective hence tie-free and reproducible in SQL)
    exceeds the auto threshold, so the default spearman_corr call bins
    at 10k buckets.  The entry returns the EXACT rho (differential
    against DuckDB's rank-window corr) plus a flag that the auto result
    sits within 1e-3 of it — verifying both that auto engaged without
    changing the answer materially and that the exact escape
    (bins=None) still reproduces the oracle bit-for-bit."""
    from gofast_spark.stats import spearman_corr
    from gofast_spark.stats.prebin import _AUTO_THRESHOLD

    n = 150_000
    assert n > _AUTO_THRESHOLD
    df = spark.range(n).select(
        F.col("id").cast("double").alias("x"),
        ((F.col("id") * F.lit(76597)) % F.lit(999983))
        .cast("double")
        .alias("y"),
    )
    exact = spearman_corr(df, "x", "y", bins=None).collect()[0]["spearman"]
    auto = spearman_corr(df, "x", "y").collect()[0]["spearman"]
    return spark.createDataFrame(
        [(round(exact, 6), int(abs(auto - exact) < 1e-3))],
        "exact_rho double, auto_within_tol int",
    )


def _ridge_oracle(lam: float) -> str:
    """The _ols_oracle determinant replay with ``lam`` added to the
    FEATURE diagonal of X'X (intercept unpenalized) — exactly what
    fit_linear_regression(ridge=lam) does before the Cramer solve, sse
    included (Hoerl & Kennard 1970)."""
    A = [
        ["a00", "a01", "a02"],
        ["a01", f"(a11 + {lam})", "a12"],
        ["a02", "a12", f"(a22 + {lam})"],
    ]
    b = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[b[i] if k == j else A[i][k] for k in range(3)] for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    q = (
        f"w0 * ({A[0][0]} * w0 + {A[0][1]} * w1 + {A[0][2]} * w2)"
        f" + w1 * ({A[1][0]} * w0 + {A[1][1]} * w1 + {A[1][2]} * w2)"
        f" + w2 * ({A[2][0]} * w0 + {A[2][1]} * w1 + {A[2][2]} * w2)"
    )
    return f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS a00,
             sum(CAST(l_quantity AS DOUBLE)) AS a01,
             sum(CAST(l_discount AS DOUBLE)) AS a02,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS a11,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a12,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE)) AS a22,
             sum(CAST(l_extendedprice AS DOUBLE)) AS b0,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b1,
             sum(CAST(l_discount AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS b2,
             sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS yy,
             count(*) AS n
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    w AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2, * FROM m),
    s AS (
      SELECT *, yy - 2 * (w0 * b0 + w1 * b1 + w2 * b2) + ({q}) AS sse,
             yy - b0 * b0 / a00 AS sst
      FROM w)
    SELECT CAST(round(w0, 4) AS DOUBLE) AS w0,
           CAST(round(w1, 4) AS DOUBLE) AS w1,
           CAST(round(w2, 4) AS DOUBLE) AS w2,
           CAST(round(1.0 - sse / sst, 6) AS DOUBLE) AS r2,
           CAST(n AS BIGINT) AS n
    FROM s
    """


@query("ridge_normal_eq_lineitem", oracle=_ridge_oracle(0.5))
def ridge_normal_eq_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (lambda=0.5) by the same one-aggregation normal
    equations as ols_normal_eq_lineitem — lambda lands on the feature
    diagonal only, the intercept stays unpenalized (Hoerl & Kennard
    1970).  At 100 TB this is still ONE moment aggregate regardless of
    row count; only the p x p solve is driver-side."""
    from gofast_spark.ml import fit_linear_regression

    li = _t(spark, sf_dir, "lineitem")
    m = fit_linear_regression(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        ridge=0.5, solver="cramer",
    )
    w = m["coef"]
    return spark.createDataFrame(
        [(
            round(w[0], 4), round(w[1], 4), round(w[2], 4),
            round(m["r2"], 6), m["n"],
        )],
        "w0 double, w1 double, w2 double, r2 double, n bigint",
    )


@query(
    "categorical_association_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
    joint AS (SELECT a, b, count(*) AS n_ab FROM base GROUP BY a, b),
    ma AS (SELECT a, sum(n_ab) AS n_a FROM joint GROUP BY a),
    mb AS (SELECT b, sum(n_ab) AS n_b FROM joint GROUP BY b),
    tot AS (SELECT sum(n_ab) AS n, count(DISTINCT a) AS r,
                   count(DISTINCT b) AS c FROM joint),
    terms AS (
      SELECT n_ab, n_a, n_b, n, r, c,
             (CAST(n_a AS DOUBLE) * n_b) / n AS e
      FROM joint JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot)
    SELECT CAST(round(sum(pow(n_ab - e, 2) / e), 6) AS DOUBLE) AS chi2,
           CAST(round(sum((n_ab / CAST(n AS DOUBLE))
                * ln((CAST(n_ab AS DOUBLE) * n)
                     / (CAST(n_a AS DOUBLE) * n_b))), 6) AS DOUBLE)
             AS mutual_info,
           CAST(round(sqrt(sum(pow(n_ab - e, 2) / e)
                / (CAST(any_value(n) AS DOUBLE)
                   * (least(any_value(r), any_value(c)) - 1))), 6)
             AS DOUBLE) AS cramers_v,
           CAST(any_value(n) AS BIGINT) AS n,
           CAST(any_value(r) AS INT) AS r,
           CAST(any_value(c) AS INT) AS c
    FROM terms
    """,
)
def categorical_association_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square + Cramer's V + mutual information between order
    priority and status in one pass (stats/relationships.py
    categorical_association; Cramer 1946, Cover & Thomas ch. 2) — the
    contingency table is category-pair sized, the corpus is scanned
    once."""
    from gofast_spark.stats.relationships import categorical_association

    o = _t(spark, sf_dir, "orders")
    out = categorical_association(o, "o_orderpriority", "o_orderstatus")
    return out.select(
        F.round("chi2", 6).cast("double").alias("chi2"),
        F.round("mutual_info", 6).cast("double").alias("mutual_info"),
        F.round("cramers_v", 6).cast("double").alias("cramers_v"),
        "n", "r", "c",
    )


@query(
    "approx_quantile_floor_lineitem",
    oracle="""
    SELECT CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE)
             AS p50,
           CAST(round(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE)
             AS p90,
           CAST(round(quantile_cont(l_extendedprice, 0.99), 4) AS DOUBLE)
             AS p99,
           1 AS sketch_within_tol
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    """,
)
def approx_quantile_floor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna sketch floor check: the engine's bounded-memory
    quantile path (approxQuantile at rel-err 1e-3 — what prebin/zorder
    lean on at 100 TB) must land within rank tolerance of the EXACT
    percentiles, which are themselves hash-matched against DuckDB's
    quantile_cont.  Differential on the exact values, floor on the
    sketch."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()
    )
    exact = li.agg(
        *[
            F.percentile("l_extendedprice", F.lit(q)).alias(f"p{int(q*100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    ).collect()[0]
    approx = li.approxQuantile("l_extendedprice", [0.5, 0.9, 0.99], 1e-3)
    # rank-tolerance check: sketch value's true rank within eps*n of
    # the target rank — approximated via value-relative slack vs the
    # neighborhood spread; simple robust proxy: within 1% of exact value
    ok = all(
        abs(a - exact[f"p{int(q*100)}"]) <= 0.01 * abs(exact[f"p{int(q*100)}"])
        for a, q in zip(approx, (0.5, 0.9, 0.99))
    )
    return spark.createDataFrame(
        [(
            round(exact["p50"], 4), round(exact["p90"], 4),
            round(exact["p99"], 4), int(ok),
        )],
        "p50 double, p90 double, p99 double, sketch_within_tol int",
    )


@query(
    "msprt_ab_events",
    oracle="""
    WITH q AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS is_t,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x3
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    per_day AS (
      SELECT day,
             sum(is_t) AS n_t, sum(1 - is_t) AS n_c,
             sum(CASE WHEN is_t = 1 THEN x3 ELSE 0 END) AS s_t,
             sum(CASE WHEN is_t = 0 THEN x3 ELSE 0 END) AS s_c,
             sum(CASE WHEN is_t = 1 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss_t,
             sum(CASE WHEN is_t = 0 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss_c
      FROM q GROUP BY day),
    cum AS (
      SELECT day,
             sum(n_t) OVER w AS cn_t, sum(n_c) OVER w AS cn_c,
             sum(s_t) OVER w AS cs_t, sum(s_c) OVER w AS cs_c,
             CAST(sum(ss_t) OVER w AS DOUBLE) AS css_t,
             CAST(sum(ss_c) OVER w AS DOUBLE) AS css_c
      FROM per_day
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT day, cn_t, cn_c,
             CAST(cs_t AS DOUBLE) / CAST(cn_t AS DOUBLE) / 1000.0
               - CAST(cs_c AS DOUBLE) / CAST(cn_c AS DOUBLE) / 1000.0
               AS theta,
             (css_t - CAST(cs_t AS DOUBLE) * CAST(cs_t AS DOUBLE)
                / CAST(cn_t AS DOUBLE))
               / (CAST(cn_t AS DOUBLE) - 1.0) / 1000000.0
               / CAST(cn_t AS DOUBLE)
             + (css_c - CAST(cs_c AS DOUBLE) * CAST(cs_c AS DOUBLE)
                / CAST(cn_c AS DOUBLE))
               / (CAST(cn_c AS DOUBLE) - 1.0) / 1000000.0
               / CAST(cn_c AS DOUBLE) AS v
      FROM cum WHERE cn_t >= 2 AND cn_c >= 2),
    s AS (
      SELECT day, cn_t, cn_c, theta,
             sqrt(v / (v + 1.0))
               * exp(theta * theta * 1.0 / (2.0 * v * (v + 1.0)))
               AS likelihood_ratio
      FROM d),
    p AS (
      SELECT day, cn_t, cn_c, theta, likelihood_ratio,
             least(1.0, 1.0 / max(likelihood_ratio) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS p_value
      FROM s)
    SELECT day, CAST(cn_t AS BIGINT) AS n_treatment,
           CAST(cn_c AS BIGINT) AS n_control,
           CAST(round(theta, 6) AS DOUBLE) AS theta,
           CAST(round(likelihood_ratio, 6) AS DOUBLE) AS likelihood_ratio,
           CAST(round(p_value, 6) AS DOUBLE) AS p_value
    FROM p
    """,
)
def msprt_ab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B curve (stats/sequential.py; Johari
    et al., KDD 2017 mSPRT): daily cumulative exact-integer milli-unit
    moments -> closed-form normal-mixture likelihood ratio -> running-min
    always-valid p-value.  ONE scan of the raw events; every window runs
    over the days-sized table.  The oracle replays the full peeking
    curve bit-for-bit from the same integer state."""
    from gofast_spark.stats.sequential import msprt_curve

    e = _t(spark, sf_dir, "events").withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 1, "treatment").otherwise("control"),
    ).where(F.col("ts").isNotNull())
    out = msprt_curve(
        e, "ts", "variant", "value",
        control="control", treatment="treatment", tau2=1.0,
    )
    return out.select(
        "day", "n_treatment", "n_control",
        F.round("theta", 6).cast("double").alias("theta"),
        F.round("likelihood_ratio", 6).cast("double")
        .alias("likelihood_ratio"),
        F.round("p_value", 6).cast("double").alias("p_value"),
    )


@query(
    "cuped_ab_events",
    oracle="""
    WITH pu AS (
      SELECT user_id AS u,
             CAST((user_id * 1103515245 + 12345) % 2147483648 % 2 AS INT)
               AS variant,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value
                      ELSE 0.0 END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value
                      ELSE 0.0 END) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id),
    g AS (
      SELECT avg(x) AS mx,
             (avg(x * y) - avg(x) * avg(y))
               / (avg(x * x) - avg(x) * avg(x)) AS theta
      FROM pu),
    a AS (
      SELECT variant, y, y - theta * (x - mx) AS y_adj FROM pu, g)
    SELECT variant, count(*) AS n_users,
           CAST(round(avg(y), 4) AS DOUBLE) AS mean_post,
           CAST(round(avg(y_adj), 4) AS DOUBLE) AS mean_adj,
           CAST(round(avg(y * y) - avg(y) * avg(y), 2) AS DOUBLE)
             AS var_post,
           CAST(round(avg(y_adj * y_adj) - avg(y_adj) * avg(y_adj), 2)
             AS DOUBLE) AS var_adj,
           CAST(round(1.0 - (avg(y_adj * y_adj) - avg(y_adj) * avg(y_adj))
                 / (avg(y * y) - avg(y) * avg(y)), 4) AS DOUBLE)
             AS var_reduction
    FROM a GROUP BY variant
    """,
)
def cuped_ab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (stats/cuped.py; Deng et al. WSDM
    2013): LCG-hash variants, pre/post user metrics split at a fixed
    date, theta from ONE 1-row moment broadcast, per-variant adjusted
    means and variance reduction — the experimentation-platform
    sensitivity standard as two shuffles.  The oracle replays the
    moment algebra with matched rounding."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.cuped import cuped_report

    e = kfold_assign(
        _t(spark, sf_dir, "events"), "user_id", 2, seed=0,
        out_col="variant",
    )
    out = cuped_report(
        e, "user_id", "ts", "value", "variant",
        experiment_start="2024-01-16",
    )
    return out.select(
        "variant", "n_users",
        F.round("mean_post", 4).cast("double").alias("mean_post"),
        F.round("mean_adj", 4).cast("double").alias("mean_adj"),
        F.round("var_post", 2).cast("double").alias("var_post"),
        F.round("var_adj", 2).cast("double").alias("var_adj"),
        F.round("var_reduction", 4).cast("double").alias("var_reduction"),
    )


@query(
    "fdr_bh_events",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h1,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x3
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    g AS (
      SELECT event_type,
             sum(h1) AS n1, sum(1 - h1) AS n2,
             sum(CASE WHEN h1 = 1 THEN x3 ELSE 0 END) AS s1,
             sum(CASE WHEN h1 = 0 THEN x3 ELSE 0 END) AS s2,
             sum(CASE WHEN h1 = 1 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss1,
             sum(CASE WHEN h1 = 0 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss2
      FROM q GROUP BY event_type),
    zc AS (
      SELECT event_type,
             (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000.0
              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000.0)
             / sqrt(
                 (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) - 1.0) / 1000000.0
                   / CAST(n1 AS DOUBLE)
                 + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                    * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) - 1.0) / 1000000.0
                   / CAST(n2 AS DOUBLE)) AS z
      FROM g WHERE n1 >= 2 AND n2 >= 2),
    e AS (
      SELECT event_type, z, abs(z) / sqrt(2.0) AS x FROM zc),
    e2 AS (
      SELECT event_type, z, x,
             1.0 / (1.0 + 0.3275911 * x) AS t FROM e),
    pv AS (
      SELECT event_type, z,
             1.0 - (1.0 - (t * (0.254829592 + t * (-0.284496736
               + t * (1.421413741 + t * (-1.453152027
               + t * 1.061405429))))) * exp(-x * x)) AS p
      FROM e2),
    bh AS (
      SELECT event_type, z, p,
             row_number() OVER (ORDER BY p, event_type) AS rank,
             count(*) OVER () AS m
      FROM pv),
    qv AS (
      SELECT event_type, z, p, rank,
             least(1.0, min(p * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
               OVER (ORDER BY rank
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
               AS q_value
      FROM bh)
    SELECT event_type,
           CAST(round(z, 6) AS DOUBLE) AS z,
           CAST(round(p, 6) AS DOUBLE) AS p,
           CAST(rank AS INT) AS rank,
           CAST(round(q_value, 6) AS DOUBLE) AS q_value,
           CAST(q_value <= 0.05 AS INT) AS reject
    FROM qv
    """,
)
def fdr_bh_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over a family of per-segment tests
    (stats/multiple.py; Benjamini & Hochberg JRSS-B 1995): one Welch z
    per event type (first vs second half of the month, exact milli-unit
    moments), p from the Abramowitz-Stegun erf polynomial, q-values
    from the step-up trailing-min window — the multiple-testing layer a
    metric platform needs over thousands of segment tests, entirely in
    windows over the hypothesis-sized frame."""
    from gofast_spark.stats.multiple import fdr_bh, p_two_sided_from_z

    e = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    x3 = F.floor(F.col("value").cast("double") * 1e3 + F.lit(0.5)).cast(
        "bigint"
    )
    h1 = F.col("ts") < "2024-01-16"
    g = e.groupBy("event_type").agg(
        F.sum(F.when(h1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~h1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(h1, x3).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(~h1, x3).otherwise(F.lit(0))).alias("s2"),
        F.sum(
            F.when(h1, x3.cast("decimal(19,0)") * x3).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ss1"),
        F.sum(
            F.when(~h1, x3.cast("decimal(19,0)") * x3).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ss2"),
    ).where((F.col("n1") >= 2) & (F.col("n2") >= 2))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1 = F.col("ss1").cast("double")
    ss2 = F.col("ss2").cast("double")
    v1 = (ss1 - s1 * s1 / n1) / (n1 - F.lit(1.0)) / F.lit(1e6)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - F.lit(1.0)) / F.lit(1e6)
    z = (s1 / n1 / F.lit(1e3) - s2 / n2 / F.lit(1e3)) / F.sqrt(
        v1 / n1 + v2 / n2
    )
    tests = g.select(
        "event_type", z.alias("z"), p_two_sided_from_z(z).alias("p")
    )
    out = fdr_bh(tests, "p", tiebreak_cols=["event_type"], alpha=0.05)
    return out.select(
        "event_type",
        F.round("z", 6).cast("double").alias("z"),
        F.round("p", 6).cast("double").alias("p"),
        F.col("rank").cast("int").alias("rank"),
        F.round("q_value", 6).cast("double").alias("q_value"),
        "reject",
    )


@query(
    "kendall_tau_lineitem",
    oracle="""
    WITH d AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) / 1000.0)
               AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    cells AS (SELECT x, y, count(*) AS cnt FROM d GROUP BY 1, 2),
    xs AS (SELECT DISTINCT x FROM cells),
    ys AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT xs.x, ys.y, coalesce(cells.cnt, 0) AS n
      FROM xs CROSS JOIN ys
      LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y),
    g1 AS (
      SELECT x, y, n,
             coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
      FROM grid),
    g2 AS (
      SELECT x, y, n,
             coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_ll,
             sum(a) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_lle,
             sum(a) OVER (PARTITION BY x) AS t_l
      FROM g1),
    ps AS (
      SELECT sum(CAST(n AS HUGEINT) * s_ll) AS concordant,
             sum(CAST(n AS HUGEINT) * (t_l - b_lle)) AS discordant
      FROM g2),
    mx AS (
      SELECT sum(CAST(tx AS HUGEINT) * (tx - 1)) AS tie_x2,
             sum(tx) AS n_rows
      FROM (SELECT sum(cnt) AS tx FROM cells GROUP BY x)),
    my AS (
      SELECT sum(CAST(ty AS HUGEINT) * (ty - 1)) AS tie_y2
      FROM (SELECT sum(cnt) AS ty FROM cells GROUP BY y))
    SELECT CAST(round(
             (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / (sqrt(CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_x2
                       AS DOUBLE)
                     * CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_y2
                       AS DOUBLE)) / 2.0), 6) AS DOUBLE) AS tau_b,
           CAST(concordant AS BIGINT) AS concordant,
           CAST(discordant AS BIGINT) AS discordant,
           CAST(n_rows AS BIGINT) AS n
    FROM ps, mx, my
    """,
)
def kendall_tau_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (stats/relationships.py kendall_tau; Kendall
    1938) between quantity and the 1000-unit price band: rows fold into
    a contingency grid, C/D from 2-D prefix sums (two axis-partitioned
    window passes over the grid), tie terms from the marginals —
    quadratic in GRID CELLS, never rows, and exact-integer to the final
    division.  Completes the rank-correlation family next to
    spearman_corr."""
    from gofast_spark.stats.relationships import kendall_tau

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_extendedprice").cast("double") / F.lit(1000.0))
        .cast("bigint")
        .alias("price_band"),
    )
    out = kendall_tau(li, "qty", "price_band", bins=None)
    return out.select(
        F.round("tau_b", 6).cast("double").alias("tau_b"),
        "concordant",
        "discordant",
        "n",
    )


@query(
    "roc_auc_events",
    oracle="""
    WITH d AS (
      SELECT value AS s,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    per AS (SELECT s, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY s),
    mr AS (
      SELECT pos, cnt,
             2 * coalesce(sum(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS mr2
      FROM per),
    agg AS (
      SELECT sum(pos * mr2) AS r1_2, sum(pos) AS n1,
             sum(cnt - pos) AS n0
      FROM mr)
    SELECT CAST(round(CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
                      / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
             AS DOUBLE) AS auc,
           CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg
    FROM agg
    """,
)
def roc_auc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of event value separating purchases from views
    (metrics.auc_score; Hanley & McNeil 1982 rank identity): midranks
    doubled to stay integral over the distinct-score frame, one
    histogram + one cumulative window, the only float op is the final
    division."""
    from gofast_spark.metrics import auc_score

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin(["purchase", "view"])
        & F.col("value").isNotNull()
    )
    out = auc_score(
        e, "value", (F.col("event_type") == "purchase").cast("int")
    )
    return out.select(
        F.round("auc", 6).cast("double").alias("auc"), "n_pos", "n_neg"
    )


@query(
    "two_proportion_events",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 'treatment'
                  ELSE 'control' END AS g,
             CAST(event_type = 'purchase' AS BIGINT) AS s
      FROM events WHERE event_type IS NOT NULL),
    agg AS (
      SELECT sum(CASE WHEN g = 'treatment' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN g = 'control' THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN g = 'treatment' THEN s ELSE 0 END) AS x_a,
             sum(CASE WHEN g = 'control' THEN s ELSE 0 END) AS x_b
      FROM d),
    c AS (
      SELECT CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(x_a AS DOUBLE) AS xa, CAST(x_b AS DOUBLE) AS xb,
             n_a, n_b
      FROM agg),
    zc AS (
      SELECT *,
             (xa / na - xb / nb)
             / sqrt((xa + xb) / (na + nb)
                    * (1.0 - (xa + xb) / (na + nb))
                    * (1.0 / na + 1.0 / nb)) AS z
      FROM c),
    e AS (SELECT *, abs(z) / sqrt(2.0) AS xx FROM zc),
    e2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM e),
    pv AS (
      SELECT *,
             1.0 - (1.0 - (t * (0.254829592 + t * (-0.284496736
               + t * (1.421413741 + t * (-1.453152027
               + t * 1.061405429))))) * exp(-xx * xx)) AS p_value
      FROM e2),
    w AS (
      SELECT *,
             ((xa / na + 1.96 * 1.96 / (2.0 * na))
              / (1.0 + 1.96 * 1.96 / na)) AS ca,
             (1.96 * sqrt((xa / na) * (1.0 - xa / na) / na
                          + 1.96 * 1.96 / (4.0 * na * na))
              / (1.0 + 1.96 * 1.96 / na)) AS ha,
             ((xb / nb + 1.96 * 1.96 / (2.0 * nb))
              / (1.0 + 1.96 * 1.96 / nb)) AS cb,
             (1.96 * sqrt((xb / nb) * (1.0 - xb / nb) / nb
                          + 1.96 * 1.96 / (4.0 * nb * nb))
              / (1.0 + 1.96 * 1.96 / nb)) AS hb
      FROM pv)
    SELECT CAST(round(xa / na, 6) AS DOUBLE) AS p_a,
           CAST(round(xb / nb, 6) AS DOUBLE) AS p_b,
           CAST(round(z, 6) AS DOUBLE) AS z,
           CAST(round(p_value, 6) AS DOUBLE) AS p_value,
           CAST(round(ca - ha, 6) AS DOUBLE) AS a_lo,
           CAST(round(ca + ha, 6) AS DOUBLE) AS a_hi,
           CAST(round(cb - hb, 6) AS DOUBLE) AS b_lo,
           CAST(round(cb + hb, 6) AS DOUBLE) AS b_hi,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM w
    """,
)
def two_proportion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test + Wilson 95% intervals on purchase rate by
    user-hash variant (stats/inferential.py two_proportion_test; Wilson
    JASA 1927): four integer counts in, the whole dashboard readout
    out — pooled-SE z, erf-polynomial p, per-group score intervals."""
    from gofast_spark.stats.inferential import two_proportion_test

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    ).withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 1, "treatment").otherwise("control"),
    )
    out = two_proportion_test(
        e, "variant", (F.col("event_type") == "purchase").cast("int"),
        "treatment", "control",
    )
    return out.select(
        F.round("p_a", 6).cast("double").alias("p_a"),
        F.round("p_b", 6).cast("double").alias("p_b"),
        F.round("z", 6).cast("double").alias("z"),
        F.round("p_value", 6).cast("double").alias("p_value"),
        F.round("a_lo", 6).cast("double").alias("a_lo"),
        F.round("a_hi", 6).cast("double").alias("a_hi"),
        F.round("b_lo", 6).cast("double").alias("b_lo"),
        F.round("b_hi", 6).cast("double").alias("b_hi"),
        "n_a",
        "n_b",
    )


@query(
    "cochran_armitage_orders",
    oracle="""
    WITH d AS (
      SELECT CAST(date_part('month', o_orderdate) AS BIGINT) AS sc,
             CAST(o_orderstatus = 'F' AS BIGINT) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL),
    per AS (SELECT sc, count(*) AS n_i, sum(y) AS r_i FROM d GROUP BY sc),
    agg AS (
      SELECT sum(n_i) AS n, sum(r_i) AS r,
             sum(CAST(r_i AS HUGEINT) * sc) AS rs,
             sum(CAST(n_i AS HUGEINT) * sc) AS ns,
             sum(CAST(n_i AS HUGEINT) * sc * sc) AS nss,
             count(*) AS n_groups
      FROM per),
    zc AS (
      SELECT (CAST(rs AS DOUBLE)
              - CAST(r AS DOUBLE) * CAST(ns AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(nss AS DOUBLE)
                       - CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE)
                         / CAST(n AS DOUBLE))) AS z,
             n, n_groups
      FROM agg),
    e AS (SELECT z, n, n_groups, abs(z) / sqrt(2.0) AS xx FROM zc),
    e2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM e),
    pv AS (
      SELECT z, n, n_groups,
             1.0 - (1.0 - (t * (0.254829592 + t * (-0.284496736
               + t * (1.421413741 + t * (-1.453152027
               + t * 1.061405429))))) * exp(-xx * xx)) AS p_value
      FROM e2)
    SELECT CAST(round(z, 6) AS DOUBLE) AS z,
           CAST(round(p_value, 6) AS DOUBLE) AS p_value,
           CAST(n AS BIGINT) AS n, CAST(n_groups AS BIGINT) AS n_groups
    FROM pv
    """,
)
def cochran_armitage_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend-in-proportions test across order months
    (stats/inferential.py cochran_armitage_trend; Cochran 1954,
    Armitage 1955): the ordered-category counterpart to the chi2
    entries — every moment an exact decimal-widened integer, z and the
    erf p the only float ops."""
    from gofast_spark.stats.inferential import cochran_armitage_trend

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull() & F.col("o_orderstatus").isNotNull()
    )
    out = cochran_armitage_trend(
        o,
        F.month("o_orderdate"),
        (F.col("o_orderstatus") == "F").cast("int"),
    )
    return out.select(
        F.round("z", 6).cast("double").alias("z"),
        F.round("p_value", 6).cast("double").alias("p_value"),
        "n",
        "n_groups",
    )


@query(
    "g_test_orders",
    oracle="""
    WITH d AS (
      SELECT o_orderstatus AS ca,
             CASE WHEN o_orderpriority LIKE '1%'
                    OR o_orderpriority LIKE '2%'
                  THEN 'high' ELSE 'low' END AS cb
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    conf AS (SELECT ca, cb, count(*) AS o FROM d GROUP BY 1, 2),
    rm AS (SELECT ca, sum(o) AS n_a FROM conf GROUP BY ca),
    cm AS (SELECT cb, sum(o) AS n_b FROM conf GROUP BY cb),
    t AS (
      SELECT sum(o) AS n, count(DISTINCT ca) AS r, count(DISTINCT cb) AS c
      FROM conf),
    j AS (
      SELECT conf.ca, conf.cb,
             CAST(o AS DOUBLE)
               * ln(CAST(o AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                       / CAST(n AS DOUBLE))) AS term,
             n, r, c
      FROM conf JOIN rm USING (ca) JOIN cm USING (cb), t),
    cum AS (
      SELECT ca, cb,
             sum(term) OVER (ORDER BY ca, cb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g_half,
             n, r, c
      FROM j),
    last AS (SELECT * FROM cum ORDER BY ca DESC, cb DESC LIMIT 1)
    SELECT CAST(round(2.0 * g_half, 6) AS DOUBLE) AS g_stat,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           CAST(n AS BIGINT) AS n
    FROM last
    """,
)
def g_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence between order status and a priority band
    (stats/inferential.py g_test; Sokal & Rohlf): the log-likelihood
    -ratio twin of the Pearson chi2 entries, cell terms folded over the
    (row, col)-ordered window with an argmax pick."""
    from gofast_spark.stats.inferential import g_test

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    ).select(
        F.col("o_orderstatus").alias("status"),
        F.when(
            F.col("o_orderpriority").startswith("1")
            | F.col("o_orderpriority").startswith("2"),
            "high",
        ).otherwise("low").alias("prio_band"),
    )
    out = g_test(o, "status", "prio_band")
    return out.select(
        F.round("g_stat", 6).cast("double").alias("g_stat"), "dof", "n"
    )


@query(
    "ordinal_association_orders",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             least(CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000.0)
               AS BIGINT), 9) AS y
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
    cells AS (SELECT x, y, count(*) AS cnt FROM d GROUP BY 1, 2),
    xs AS (SELECT DISTINCT x FROM cells),
    ys AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT xs.x, ys.y, coalesce(cells.cnt, 0) AS n
      FROM xs CROSS JOIN ys
      LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y),
    g1 AS (
      SELECT x, y, n,
             coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
      FROM grid),
    g2 AS (
      SELECT x, y, n,
             coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_ll,
             sum(a) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_lle,
             sum(a) OVER (PARTITION BY x) AS t_l
      FROM g1),
    ps AS (
      SELECT sum(CAST(n AS HUGEINT) * s_ll) AS concordant,
             sum(CAST(n AS HUGEINT) * (t_l - b_lle)) AS discordant
      FROM g2),
    mx AS (
      SELECT sum(CAST(tx AS HUGEINT) * (tx - 1)) AS tie_x2,
             sum(tx) AS n_rows
      FROM (SELECT sum(cnt) AS tx FROM cells GROUP BY x)),
    my AS (
      SELECT sum(CAST(ty AS HUGEINT) * (ty - 1)) AS tie_y2
      FROM (SELECT sum(cnt) AS ty FROM cells GROUP BY y))
    SELECT CAST(round(
             (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / (sqrt(CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_x2
                       AS DOUBLE)
                     * CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_y2
                       AS DOUBLE)) / 2.0), 6) AS DOUBLE) AS tau_b,
           CAST(round(
             (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)),
             6) AS DOUBLE) AS gamma,
           CAST(round(
             (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / (CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_x2
                  AS DOUBLE) / 2.0), 6) AS DOUBLE) AS somers_yx,
           CAST(round(
             (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / (CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie_y2
                  AS DOUBLE) / 2.0), 6) AS DOUBLE) AS somers_xy,
           CAST(n_rows AS BIGINT) AS n
    FROM ps, mx, my
    """,
)
def ordinal_association_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-association panel between order priority (1-5) and the
    50k price band: tau-b plus Goodman-Kruskal gamma and both Somers'
    D directions from ONE contingency-grid C/D pass
    (stats/relationships.py kendall_tau) — the full ordinal toolbox at
    the cost of one grid."""
    from gofast_spark.stats.relationships import kendall_tau

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        F.least(
            F.floor(F.col("o_totalprice").cast("double") / F.lit(50000.0))
            .cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("band"),
    )
    out = kendall_tau(o, "prio", "band", bins=None)
    return out.select(
        F.round("tau_b", 6).cast("double").alias("tau_b"),
        F.round("gamma", 6).cast("double").alias("gamma"),
        F.round("somers_yx", 6).cast("double").alias("somers_yx"),
        F.round("somers_xy", 6).cast("double").alias("somers_xy"),
        "n",
    )


@query(
    "partial_corr_lineitem",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(CAST(l_quantity AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS x,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS y,
             CAST(floor(CAST(l_discount AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS z
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    agg AS (
      SELECT count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(z AS HUGEINT) * z) AS szz,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * z) AS sxz,
             sum(CAST(y AS HUGEINT) * z) AS syz
      FROM q),
    r AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS r_xy,
             (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_xz,
             (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_yz
      FROM agg)
    SELECT CAST(round((r_xy - r_xz * r_yz)
                      / sqrt((1.0 - r_xz * r_xz)
                             * (1.0 - r_yz * r_yz)), 6) AS DOUBLE)
             AS partial_corr,
           CAST(round(r_xy, 6) AS DOUBLE) AS r_xy,
           CAST(round(r_xz, 6) AS DOUBLE) AS r_xz,
           CAST(round(r_yz, 6) AS DOUBLE) AS r_yz,
           CAST(n AS BIGINT) AS n
    FROM r
    """,
)
def partial_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price controlling for
    discount (stats/relationships.py partial_corr): three Pearson r
    from ONE exact milli-unit moment aggregate, the textbook
    first-order recursion on top — fully deterministic."""
    from gofast_spark.stats.relationships import partial_corr

    li = _t(spark, sf_dir, "lineitem")
    out = partial_corr(li, "l_quantity", "l_extendedprice", "l_discount")
    return out.select(
        F.round("partial_corr", 6).cast("double").alias("partial_corr"),
        F.round("r_xy", 6).cast("double").alias("r_xy"),
        F.round("r_xz", 6).cast("double").alias("r_xz"),
        F.round("r_yz", 6).cast("double").alias("r_yz"),
        "n",
    )


@query(
    "cliffs_delta_events",
    oracle="""
    WITH d AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
    per AS (SELECT v, sum(ia) AS ca, sum(ib) AS cb FROM d GROUP BY v),
    t AS (
      SELECT ca, cb,
             coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb_lt,
             sum(cb) OVER () AS cb_tot
      FROM per),
    agg AS (
      SELECT sum(CAST(ca AS HUGEINT) * cb_lt) AS n_greater,
             sum(CAST(ca AS HUGEINT) * (cb_tot - cb_lt - cb)) AS n_less,
             sum(ca) AS n_a, max(cb_tot) AS n_b
      FROM t)
    SELECT CAST(round(CAST(n_greater - n_less AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
             AS DOUBLE) AS delta,
           CAST(n_greater AS BIGINT) AS n_greater,
           CAST(n_less AS BIGINT) AS n_less,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM agg
    """,
)
def cliffs_delta_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between purchase and view values
    (stats/relationships.py cliffs_delta; Cliff 1993): tie-aware
    ordinal effect size from the pooled distinct-value frame —
    decimal-widened exact pair counts, the distribution-free companion
    to the cohens_d entry."""
    from gofast_spark.stats.relationships import cliffs_delta

    e = _t(spark, sf_dir, "events")
    out = cliffs_delta(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("delta", 6).cast("double").alias("delta"),
        "n_greater",
        "n_less",
        "n_a",
        "n_b",
    )


@query(
    "icc_events",
    oracle="""
    WITH q AS (
      SELECT event_type AS g,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x3
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    per AS (
      SELECT g, count(*) AS n_i, sum(x3) AS s_i,
             sum(CAST(x3 AS HUGEINT) * x3) AS ss_i
      FROM q GROUP BY g),
    g2 AS (
      SELECT g, n_i,
             CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
               / CAST(n_i AS DOUBLE) AS b_term,
             CAST(ss_i AS DOUBLE)
               - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                 / CAST(n_i AS DOUBLE) AS w_term,
             sum(n_i) OVER () AS n, sum(s_i) OVER () AS s,
             sum(CAST(n_i AS HUGEINT) * n_i) OVER () AS nn2,
             count(*) OVER () AS k
      FROM per),
    cum AS (
      SELECT g, n, s, nn2, k,
             sum(b_term) OVER wc AS b_c, sum(w_term) OVER wc AS w_c
      FROM g2
      WINDOW wc AS (ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    last AS (SELECT * FROM cum ORDER BY g DESC LIMIT 1),
    f AS (
      SELECT (b_c - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) / 1000000.0
               / (CAST(k AS DOUBLE) - 1.0) AS msb,
             w_c / 1000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               AS msw,
             (CAST(n AS DOUBLE) - CAST(nn2 AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(k AS DOUBLE) - 1.0) AS n0,
             k, n
      FROM last)
    SELECT CAST(round((msb - msw) / (msb + (n0 - 1.0) * msw), 6)
             AS DOUBLE) AS icc1,
           CAST(round(msb, 6) AS DOUBLE) AS msb,
           CAST(round(msw, 6) AS DOUBLE) AS msw,
           CAST(round(n0, 6) AS DOUBLE) AS n0,
           CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n
    FROM f
    """,
)
def icc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ICC(1) of event values within event types
    (stats/inferential.py icc_oneway; Shrout & Fleiss 1979): exact
    milli-unit per-group moments, cross-group float terms folded over
    the group-ordered window — the reliability companion to
    cronbach_lineitem."""
    from gofast_spark.stats.inferential import icc_oneway

    e = _t(spark, sf_dir, "events")
    out = icc_oneway(e, "event_type", "value")
    return out.select(
        F.round("icc1", 6).cast("double").alias("icc1"),
        F.round("msb", 6).cast("double").alias("msb"),
        F.round("msw", 6).cast("double").alias("msw"),
        F.round("n0", 6).cast("double").alias("n0"),
        "k",
        "n",
    )


def _ipw_oracle(n_iter: int = 3) -> str:
    """Layered Newton replay (the _logit_oracle recipe) for the
    PROPENSITY model t ~ x, then the Hajek-normalized IPW readout at
    the round-6-pinned final weights."""
    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        p = f"(1.0 / (1.0 + exp(-({prev}.w0 * 1.0 + {prev}.w1 * d.x))))"
        layers.append(f"""a{k} AS (
      SELECT sum({p} * (1.0 - {p}) * 1.0 * 1.0) AS h00,
             sum({p} * (1.0 - {p}) * 1.0 * d.x) AS h01,
             sum({p} * (1.0 - {p}) * d.x * d.x) AS h11,
             sum((d.t - {p}) * 1.0) AS g0,
             sum((d.t - {p}) * d.x) AS g1
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE)
               AS y,
             CAST(CASE WHEN o_orderpriority LIKE '1%'
                         OR o_orderpriority LIKE '2%'
                       THEN 1 ELSE 0 END AS DOUBLE) AS t,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_orderpriority IS NOT NULL),
    {cte},
    wr AS (SELECT round(w0, 6) AS w0, round(w1, 6) AS w1 FROM {prev}),
    props AS (
      SELECT d.y, d.t,
             greatest(least(1.0 / (1.0 + exp(-(wr.w0 + wr.w1 * d.x))),
                            0.99), 0.01) AS p
      FROM d, wr),
    s AS (
      SELECT sum(t * y / p) AS swty, sum(t / p) AS swt,
             sum((1.0 - t) * y / (1.0 - p)) AS swcy,
             sum((1.0 - t) / (1.0 - p)) AS swc,
             CAST(sum(t) AS BIGINT) AS n_treated,
             count(*) AS n
      FROM props)
    SELECT CAST(round(swty / swt - swcy / swc, 6) AS DOUBLE) AS ate,
           CAST(round(swty / swt, 6) AS DOUBLE) AS mean_treated,
           CAST(round(swcy / swc, 6) AS DOUBLE) AS mean_control,
           n_treated, CAST(n - n_treated AS BIGINT) AS n_control, n
    FROM s
    """


@query("ipw_ate_orders", oracle=_ipw_oracle(3))
def ipw_ate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hajek-normalized IPW average treatment effect of high order
    priority on order finality, adjusting for price (stats/causal.py
    ipw_ate; Horvitz-Thompson 1952, Hajek 1971, Crump 2009 clipping):
    the propensity model is the 3-layer Newton trajectory of
    logistic_newton_orders re-labeled to the treatment, its final
    weights pinned to the round-6 grid on BOTH sides so each engine
    scores identical propensities; the readout is one aggregate."""
    from gofast_spark.stats.causal import ipw_ate

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        F.when(
            F.col("o_orderpriority").like("1%")
            | F.col("o_orderpriority").like("2%"),
            1,
        ).otherwise(0).cast("double").alias("t"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    )
    out = ipw_ate(
        d, "t", "y", ["x"], n_iter=3, eps=0.01, coef_round=6
    )
    return out.select(
        F.round("ate", 6).cast("double").alias("ate"),
        F.round("mean_treated", 6).cast("double").alias("mean_treated"),
        F.round("mean_control", 6).cast("double").alias("mean_control"),
        "n_treated", "n_control", "n",
    )


def _aipw_oracle(n_iter: int = 3) -> str:
    """Logistic layers (the _ipw_oracle propensity replay) + per-arm
    closed-form OLS moments + the AIPW readout, all coefficients
    round-6-pinned like the Spark side."""
    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        p = f"(1.0 / (1.0 + exp(-({prev}.w0 * 1.0 + {prev}.w1 * d.x))))"
        layers.append(f"""a{k} AS (
      SELECT sum({p} * (1.0 - {p}) * 1.0 * 1.0) AS h00,
             sum({p} * (1.0 - {p}) * 1.0 * d.x) AS h01,
             sum({p} * (1.0 - {p}) * d.x * d.x) AS h11,
             sum((d.t - {p}) * 1.0) AS g0,
             sum((d.t - {p}) * d.x) AS g1
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE)
               AS y,
             CAST(CASE WHEN o_orderpriority LIKE '1%'
                         OR o_orderpriority LIKE '2%'
                       THEN 1 ELSE 0 END AS DOUBLE) AS t,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_orderpriority IS NOT NULL),
    {cte},
    wr AS (SELECT round(w0, 6) AS w0, round(w1, 6) AS w1 FROM {prev}),
    moms AS (
      SELECT sum(t) AS n1, sum(t * x) AS sx1, sum(t * y) AS sy1,
             sum(t * x * x) AS sxx1, sum(t * x * y) AS sxy1,
             sum(1.0 - t) AS n0, sum((1.0 - t) * x) AS sx0,
             sum((1.0 - t) * y) AS sy0, sum((1.0 - t) * x * x) AS sxx0,
             sum((1.0 - t) * x * y) AS sxy0
      FROM d),
    ols AS (
      SELECT round((sy1 * sxx1 - sx1 * sxy1) / (n1 * sxx1 - sx1 * sx1), 6)
               AS c1,
             round((n1 * sxy1 - sy1 * sx1) / (n1 * sxx1 - sx1 * sx1), 6)
               AS b1,
             round((sy0 * sxx0 - sx0 * sxy0) / (n0 * sxx0 - sx0 * sx0), 6)
               AS c0,
             round((n0 * sxy0 - sy0 * sx0) / (n0 * sxx0 - sx0 * sx0), 6)
               AS b0
      FROM moms),
    score AS (
      SELECT d.y, d.t,
             greatest(least(1.0 / (1.0 + exp(-(wr.w0 + wr.w1 * d.x))),
                            0.99), 0.01) AS p,
             ols.c1 + ols.b1 * d.x AS m1,
             ols.c0 + ols.b0 * d.x AS m0
      FROM d, wr, ols),
    r AS (
      SELECT sum(m1 - m0 + t * (y - m1) / p
                 - (1.0 - t) * (y - m0) / (1.0 - p)) AS ssum,
             CAST(sum(t) AS BIGINT) AS n_treated,
             count(*) AS n
      FROM score)
    SELECT CAST(round(ssum / n, 6) AS DOUBLE) AS ate_aipw,
           n_treated, CAST(n - n_treated AS BIGINT) AS n_control, n
    FROM r
    """


@query("aipw_ate_orders", oracle=_aipw_oracle(3))
def aipw_ate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust AIPW treatment effect (stats/causal.py aipw_ate;
    Robins-Rotnitzky-Zhao 1994) on the ipw_ate_orders fixture: the
    same 3-layer propensity trajectory PLUS per-arm closed-form OLS
    outcome models from ONE treatment-weighted moment aggregate, every
    scored coefficient round-6-pinned on both sides."""
    from gofast_spark.stats.causal import aipw_ate

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        F.when(
            F.col("o_orderpriority").like("1%")
            | F.col("o_orderpriority").like("2%"),
            1,
        ).otherwise(0).cast("double").alias("t"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    )
    out = aipw_ate(d, "t", "y", ["x"], n_iter=3, eps=0.01, coef_round=6)
    return out.select(
        F.round("ate_aipw", 6).cast("double").alias("ate_aipw"),
        "n_treated", "n_control", "n",
    )


@query(
    "gumbel_daily_max_events",
    oracle="""
    WITH mx AS (
      SELECT CAST(ts AS DATE) AS d, max(value) AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    agg AS (
      SELECT avg(x) AS m, stddev_samp(x) AS s, count(*) AS n FROM mx),
    fit AS (
      SELECT m - 0.5772156649015329 * (s * (sqrt(6) / pi())) AS mu,
             s * (sqrt(6) / pi()) AS sigma, n
      FROM agg)
    SELECT CAST(round(mu, 5) AS DOUBLE) AS mu,
           CAST(round(sigma, 5) AS DOUBLE) AS sigma,
           CAST(n AS BIGINT) AS n,
           CAST(round(mu - sigma * ln(-ln(1 - 1.0 / 10)), 5) AS DOUBLE)
             AS level_10,
           CAST(round(mu - sigma * ln(-ln(1 - 1.0 / 100)), 5) AS DOUBLE)
             AS level_100
    FROM fit
    """,
)
def gumbel_daily_max_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel EV-I fit of the daily event-value maxima by method of
    moments plus 10/100-day return levels (stats/descriptive.py
    gumbel_fit; Gumbel 1958): one day-keyed max aggregate builds the
    block maxima, ONE moment aggregate fits — cost independent of
    block count."""
    from gofast_spark.stats.descriptive import gumbel_fit

    e = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    mx = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.max("value").alias("x")
    )
    out = gumbel_fit(mx, "x", return_periods=(10, 100))
    return out.select(
        F.round("mu", 5).cast("double").alias("mu"),
        F.round("sigma", 5).cast("double").alias("sigma"),
        "n",
        F.round("level_10", 5).cast("double").alias("level_10"),
        F.round("level_100", 5).cast("double").alias("level_100"),
    )


@query(
    "bartlett_events",
    oracle="""
    WITH per AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS HUGEINT))
               AS s,
             sum(CAST(CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS HUGEINT)
                 * CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS ss
      FROM events WHERE value IS NOT NULL
      GROUP BY 1 HAVING count(*) >= 2),
    s2t AS (
      SELECT n,
             CAST(n * ss - s * s AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) / 1e12 AS s2
      FROM per),
    t AS (
      SELECT n,
             CAST(floor(CAST(n - 1 AS DOUBLE) * s2 * 1e6 + 0.5) AS BIGINT)
               AS w_u,
             CAST(floor(CAST(n - 1 AS DOUBLE) * ln(s2) * 1e6 + 0.5)
               AS BIGINT) AS lt_u,
             CAST(floor(1e12 / CAST(n - 1 AS DOUBLE) + 0.5) AS BIGINT)
               AS inv_u
      FROM s2t),
    g AS (
      SELECT count(*) AS k, sum(n) AS nn,
             sum(w_u) AS sw, sum(lt_u) AS slt, sum(inv_u) AS sinv
      FROM t)
    SELECT CAST(round(
             (CAST(nn - k AS DOUBLE)
                * ln(CAST(sw AS DOUBLE) / 1e6 / CAST(nn - k AS DOUBLE))
              - CAST(slt AS DOUBLE) / 1e6)
             / (1.0 + (CAST(sinv AS DOUBLE) / 1e12
                       - 1.0 / CAST(nn - k AS DOUBLE))
                      / (3.0 * CAST(k - 1 AS DOUBLE))), 6) AS DOUBLE)
             AS bartlett_stat,
           CAST(k - 1 AS INTEGER) AS dof,
           CAST(k AS INTEGER) AS n_groups,
           CAST(nn AS BIGINT) AS n
    FROM g
    """,
)
def bartlett_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett homogeneity of event-value variances across event
    types (stats/inferential.py bartlett_test; Bartlett 1937) — the
    parametric sibling of `levene_events`, exact-integer per-group
    moments so the statistic is partition- and engine-reproducible."""
    from gofast_spark.stats.inferential import bartlett_test

    e = _t(spark, sf_dir, "events")
    out = bartlett_test(e, "value", "event_type")
    return out.select(
        F.round(F.col("bartlett_stat"), 6).alias("bartlett_stat"),
        "dof", "n_groups", "n",
    )


@query(
    "did_estimator_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2 AS INT)
               AS t,
             (ts >= TIMESTAMP '2024-01-16') AS p,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    a AS (
      SELECT
        sum(CASE WHEN t = 1 AND NOT p THEN CAST(vu AS HUGEINT) END)
          AS s_t_pre,
        sum(CASE WHEN t = 1 AND NOT p THEN 1 ELSE 0 END) AS n_t_pre,
        sum(CASE WHEN t = 1 AND p THEN CAST(vu AS HUGEINT) END)
          AS s_t_post,
        sum(CASE WHEN t = 1 AND p THEN 1 ELSE 0 END) AS n_t_post,
        sum(CASE WHEN t = 0 AND NOT p THEN CAST(vu AS HUGEINT) END)
          AS s_c_pre,
        sum(CASE WHEN t = 0 AND NOT p THEN 1 ELSE 0 END) AS n_c_pre,
        sum(CASE WHEN t = 0 AND p THEN CAST(vu AS HUGEINT) END)
          AS s_c_post,
        sum(CASE WHEN t = 0 AND p THEN 1 ELSE 0 END) AS n_c_post
      FROM d),
    m AS (
      SELECT
        CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) / 1e6
          AS mean_t_pre,
        CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) / 1e6
          AS mean_t_post,
        CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) / 1e6
          AS mean_c_pre,
        CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) / 1e6
          AS mean_c_post,
        n_t_pre, n_t_post, n_c_pre, n_c_post
      FROM a)
    SELECT mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
           CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           CAST((mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)
             AS DOUBLE) AS did
    FROM m
    """,
)
def did_estimator_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period difference-in-differences on event values
    (stats/causal.py did_estimator; Card & Krueger 1994): LCG-hash
    treatment groups (the cuped_ab_events assignment), pre/post split
    at 2024-01-16, all four cell means from ONE conditional-sum
    aggregate of exact micro-unit integers."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.causal import did_estimator

    e = kfold_assign(
        _t(spark, sf_dir, "events").where(F.col("ts").isNotNull()),
        "user_id", 2, seed=0, out_col="variant",
    )
    out = did_estimator(
        e, "value",
        F.col("variant") == 1,
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
    )
    return out.select(
        "mean_t_pre", "mean_t_post", "mean_c_pre", "mean_c_post",
        F.col("n_t_pre").cast("bigint").alias("n_t_pre"),
        F.col("n_t_post").cast("bigint").alias("n_t_post"),
        F.col("n_c_pre").cast("bigint").alias("n_c_pre"),
        F.col("n_c_post").cast("bigint").alias("n_c_post"),
        "did",
    )


@query(
    "rdd_local_linear_lineitem",
    oracle="""
    WITH d AS (
      SELECT (CAST(l_quantity AS DOUBLE) >= 25.5) AS r,
             CAST(floor((CAST(l_quantity AS DOUBLE) - 25.5) * 1e3 + 0.5)
               AS BIGINT) AS u,
             CAST(floor(CAST(l_extendedprice AS DOUBLE)
                        / CAST(l_quantity AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND abs(CAST(l_quantity AS DOUBLE) - 25.5) <= 10.0),
    a AS (
      SELECT
        sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS n_l,
        sum(CASE WHEN NOT r THEN CAST(u AS HUGEINT) ELSE 0 END) AS su_l,
        sum(CASE WHEN NOT r THEN CAST(u AS HUGEINT) * u ELSE 0 END)
          AS suu_l,
        sum(CASE WHEN NOT r THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_l,
        sum(CASE WHEN NOT r THEN CAST(u AS HUGEINT) * y ELSE 0 END)
          AS suy_l,
        sum(CASE WHEN r THEN 1 ELSE 0 END) AS n_r,
        sum(CASE WHEN r THEN CAST(u AS HUGEINT) ELSE 0 END) AS su_r,
        sum(CASE WHEN r THEN CAST(u AS HUGEINT) * u ELSE 0 END) AS suu_r,
        sum(CASE WHEN r THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_r,
        sum(CASE WHEN r THEN CAST(u AS HUGEINT) * y ELSE 0 END) AS suy_r
      FROM d),
    f AS (
      SELECT
        CAST(sy_l * suu_l - su_l * suy_l AS DOUBLE)
          / CAST(n_l * suu_l - su_l * su_l AS DOUBLE) / 1e6 AS a_left,
        CAST(n_l * suy_l - su_l * sy_l AS DOUBLE)
          / CAST(n_l * suu_l - su_l * su_l AS DOUBLE) / 1e6 * 1e3
          AS b_left,
        CAST(sy_r * suu_r - su_r * suy_r AS DOUBLE)
          / CAST(n_r * suu_r - su_r * su_r AS DOUBLE) / 1e6 AS a_right,
        CAST(n_r * suy_r - su_r * sy_r AS DOUBLE)
          / CAST(n_r * suu_r - su_r * su_r AS DOUBLE) / 1e6 * 1e3
          AS b_right,
        n_l, n_r
      FROM a)
    SELECT CAST(a_right - a_left AS DOUBLE) AS tau,
           a_left, a_right, b_left, b_right,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right
    FROM f
    """,
)
def rdd_local_linear_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity of unit price at the quantity
    cutoff 25.5 with bandwidth 10 (stats/causal.py rdd_local_linear;
    Imbens & Lemieux 2008): local-linear fits on each side from ONE
    conditional exact-moment aggregate, closed-form intercepts, tau
    unrounded bit-exact."""
    from gofast_spark.stats.causal import rdd_local_linear

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q"),
        (F.col("l_extendedprice").cast("double")
         / F.col("l_quantity").cast("double")).alias("unit_price"),
    )
    out = rdd_local_linear(
        li, "q", "unit_price", cutoff=25.5, bandwidth=10.0
    )
    return out.select(
        "tau", "a_left", "a_right", "b_left", "b_right",
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
    )


@query(
    "cooks_distance_lineitem",
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
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE)
               AS sxx_c,
             (CAST(n * syy - sy * sy AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                  * CAST(n * sxy - sx * sy AS DOUBLE))
               / CAST(n AS DOUBLE) AS sse
      FROM m),
    sc AS (
      SELECT l_orderkey, l_linenumber,
             round(
               ((CAST(yu AS DOUBLE) - my
                 - b * (CAST(xu AS DOUBLE) - mx))
                * (CAST(yu AS DOUBLE) - my
                   - b * (CAST(xu AS DOUBLE) - mx))
                / (2.0 * (sse / (CAST(n AS DOUBLE) - 2.0))))
               * (1.0 / CAST(n AS DOUBLE)
                  + (CAST(xu AS DOUBLE) - mx) * (CAST(xu AS DOUBLE) - mx)
                    / sxx_c)
               / ((1.0 - (1.0 / CAST(n AS DOUBLE)
                          + (CAST(xu AS DOUBLE) - mx)
                            * (CAST(xu AS DOUBLE) - mx) / sxx_c))
                  * (1.0 - (1.0 / CAST(n AS DOUBLE)
                            + (CAST(xu AS DOUBLE) - mx)
                              * (CAST(xu AS DOUBLE) - mx) / sxx_c))),
               6) AS cooks_d
      FROM d, s)
    SELECT l_orderkey, l_linenumber, CAST(cooks_d AS DOUBLE) AS cooks_d
    FROM sc ORDER BY cooks_d DESC, l_orderkey, l_linenumber LIMIT 20
    """,
)
def cooks_distance_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most influential lineitem rows for the price~quantity
    fit by Cook's distance (ml/regression.py cooks_distance_simple;
    Cook 1977): one exact-moment aggregate feeds slope, SSE (Syy -
    b*Sxy, no residual pass) and leverage; projection +
    TakeOrderedAndProject."""
    from gofast_spark.ml.regression import cooks_distance_simple

    return cooks_distance_simple(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice",
        ["l_orderkey", "l_linenumber"], top_k=20,
    )


@query(
    "oof_target_encode_orders",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS cat,
             CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS tu,
             CAST((o_orderkey * 1103515245 + 12345) % 2147483648 % 5
               AS INT) AS f
      FROM orders WHERE o_totalprice IS NOT NULL),
    per AS (
      SELECT cat, f, count(*) AS n, sum(CAST(tu AS HUGEINT)) AS s
      FROM d GROUP BY 1, 2),
    tot AS (SELECT cat, sum(n) AS nt, sum(s) AS st FROM per GROUP BY 1)
    SELECT cat AS priority, f AS fold, CAST(n AS BIGINT) AS n,
           CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE) / 1e2
             AS te_oof
    FROM per JOIN tot USING (cat)
    """,
)
def oof_target_encode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding of order priority by
    mean total price (ml/encoding.py oof_target_encode; Micci-Barreca
    2001): the (category, fold) table where each encoding excludes its
    own fold — total-minus-fold exact integer sums, one groupBy + one
    rollup."""
    from gofast_spark.ml.encoding import oof_target_encode

    o = _t(spark, sf_dir, "orders")
    enc = oof_target_encode(
        o, "o_orderpriority", "o_totalprice", "o_orderkey",
        n_folds=5, units=1e2,
    )
    return enc.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("fold").alias("fold"),
        F.col("te_oof"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        "priority", "fold", "n", "te_oof"
    )


@query(
    "attribution_touches_events",
    oracle="""
    WITH s AS (
      SELECT event_type AS t,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS lastt,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS firstt
      FROM events WHERE ts IS NOT NULL),
    conv AS (SELECT * FROM s WHERE t = 'purchase'),
    lt AS (SELECT coalesce(lastt, '(none)') AS channel,
                  count(*) AS last_touch
           FROM conv GROUP BY 1),
    ft AS (SELECT coalesce(firstt, '(none)') AS channel,
                  count(*) AS first_touch
           FROM conv GROUP BY 1)
    SELECT coalesce(lt.channel, ft.channel) AS channel,
           CAST(coalesce(last_touch, 0) AS BIGINT) AS last_touch,
           CAST(coalesce(first_touch, 0) AS BIGINT) AS first_touch
    FROM lt FULL JOIN ft ON ft.channel = lt.channel
    """,
)
def attribution_touches_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-/last-touch purchase attribution by prior event type
    (operators/funnel.py attribution_touches; the marketing-
    attribution baselines, cf. Shao & Li 2011) — one user-partitioned
    ignore-nulls window + channel rollups, no self-join."""
    from gofast_spark.operators.funnel import attribution_touches

    e = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return attribution_touches(
        e, "user_id", "ts", "event_type",
        conversion_type="purchase", tiebreak_col="event_id",
    )


@query(
    "ab_mde_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS g,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
    a AS (
      SELECT
        sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss0,
        sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss1
      FROM d),
    m AS (
      SELECT n0, n1,
             CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1e6 AS mean_0,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6 AS mean_1,
             sqrt(CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
                    / CAST(n0 * (n0 - 1) AS DOUBLE) / 1e12
                    / CAST(n0 AS DOUBLE)
                  + CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                    / CAST(n1 * (n1 - 1) AS DOUBLE) / 1e12
                    / CAST(n1 AS DOUBLE)) AS se
      FROM a)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           mean_0, mean_1, se,
           2.8015852181129683 * se AS mde_abs,
           2.8015852181129683 * se / mean_0 AS mde_rel
    FROM m
    """,
)
def ab_mde_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-detectable-effect sizing of the LCG-split experiment at
    alpha=0.05 / power=0.80 (stats/cuped.py ab_mde_report; Cohen 1988)
    — exact micro-unit per-variant moments, pinned normal quantiles,
    one conditional aggregate."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.cuped import ab_mde_report

    e = kfold_assign(
        _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull()),
        "user_id", 2, seed=0, out_col="variant",
    )
    return ab_mde_report(e, "value", "variant")


@query(
    "covariate_balance_orders",
    oracle="""
    WITH d AS (
      SELECT CAST((o_orderkey * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS t,
             CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS p,
             CAST(floor(CAST(date_diff('day', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS dd
      FROM orders),
    a AS (
      SELECT
        sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nt,
        sum(CASE WHEN t = 1 THEN CAST(p AS HUGEINT) ELSE 0 END) AS spt,
        sum(CASE WHEN t = 1 THEN CAST(p AS HUGEINT) * p ELSE 0 END)
          AS sspt,
        sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS nc,
        sum(CASE WHEN t = 0 THEN CAST(p AS HUGEINT) ELSE 0 END) AS spc,
        sum(CASE WHEN t = 0 THEN CAST(p AS HUGEINT) * p ELSE 0 END)
          AS sspc,
        sum(CASE WHEN t = 1 THEN CAST(dd AS HUGEINT) ELSE 0 END) AS sdt,
        sum(CASE WHEN t = 1 THEN CAST(dd AS HUGEINT) * dd ELSE 0 END)
          AS ssdt,
        sum(CASE WHEN t = 0 THEN CAST(dd AS HUGEINT) ELSE 0 END) AS sdc,
        sum(CASE WHEN t = 0 THEN CAST(dd AS HUGEINT) * dd ELSE 0 END)
          AS ssdc
      FROM d),
    f AS (
      SELECT 'price' AS covariate,
             CAST(spt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6 AS mean_t,
             CAST(spc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6 AS mean_c,
             CAST(nt * sspt - spt * spt AS DOUBLE)
               / CAST(nt * (nt - 1) AS DOUBLE) / 1e12 AS var_t,
             CAST(nc * sspc - spc * spc AS DOUBLE)
               / CAST(nc * (nc - 1) AS DOUBLE) / 1e12 AS var_c,
             nt, nc
      FROM a
      UNION ALL
      SELECT 'order_day',
             CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE) / 1e6,
             CAST(sdc AS DOUBLE) / CAST(nc AS DOUBLE) / 1e6,
             CAST(nt * ssdt - sdt * sdt AS DOUBLE)
               / CAST(nt * (nt - 1) AS DOUBLE) / 1e12,
             CAST(nc * ssdc - sdc * sdc AS DOUBLE)
               / CAST(nc * (nc - 1) AS DOUBLE) / 1e12,
             nt, nc
      FROM a)
    SELECT covariate, mean_t, mean_c,
           (mean_t - mean_c) / sqrt((var_t + var_c) / 2.0) AS smd,
           CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c
    FROM f
    """,
)
def covariate_balance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-mean-difference balance table for the LCG-split
    order 'experiment' over (total price, order day)
    (stats/causal.py covariate_balance; Austin 2009) — the propensity
    diagnostics companion to `ipw_ate_orders`, one conditional
    exact-moment aggregate."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.causal import covariate_balance

    o = kfold_assign(
        _t(spark, sf_dir, "orders"), "o_orderkey", 2, seed=0,
        out_col="variant",
    ).select(
        F.col("variant"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01")).cast("double").alias("order_day"),
    )
    return covariate_balance(
        o, ["price", "order_day"], F.col("variant") == 1
    )


@query(
    "srm_check_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS g
      FROM events WHERE user_id IS NOT NULL),
    a AS (
      SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1
      FROM d)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           CAST(n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
             AS ratio_0,
           (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
              + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
           + (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
              + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
             AS chi2,
           ((CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
               + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
            + (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
               + CAST(n1 AS DOUBLE)) * 0.5)
             * (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
             / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5))
             > 10.827566170662733 AS srm_suspected
    FROM a
    """,
)
def srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch chi-square check of the LCG user split
    (stats/causal.py srm_check; Fabijan et al. 2019) — the A/B trust
    gate, one conditional-count aggregate."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.causal import srm_check

    e = kfold_assign(
        _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull()),
        "user_id", 2, seed=0, out_col="variant",
    )
    return srm_check(e, "variant")


@query(
    "top_user_paths_events",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL),
    p AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 15
    """,
)
def top_user_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step user journey prefixes (operators/funnel.py
    top_user_paths) — deterministic row-local array_sort ordering, one
    user groupBy + one path rollup; the flow-report input beside the
    funnel/retention/attribution family."""
    from gofast_spark.operators.funnel import top_user_paths

    return top_user_paths(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        depth=3, top_k=15, tiebreak_col="event_id",
    )


@query(
    "ab_experiment_report_events",
    oracle="""
    WITH d AS (
      SELECT CAST((user_id * 1103515245 + 12345) % 2147483648 % 2
               AS INT) AS g,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
    a AS (
      SELECT
        sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0,
        sum(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss0,
        sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1,
        sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
          AS ss1
      FROM d),
    m AS (
      SELECT n0, n1,
             CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1e6 AS mean_0,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6 AS mean_1,
             (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
               * (CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                  + CAST(n1 AS DOUBLE)) * 0.5)
               / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
             + (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                + CAST(n1 AS DOUBLE)) * 0.5)
               * (CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE)
                  + CAST(n1 AS DOUBLE)) * 0.5)
               / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) * 0.5)
               AS srm_chi2,
             sqrt(CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
                    / CAST(n0 * (n0 - 1) AS DOUBLE) / 1e12
                    / CAST(n0 AS DOUBLE)
                  + CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                    / CAST(n1 * (n1 - 1) AS DOUBLE) / 1e12
                    / CAST(n1 AS DOUBLE)) AS se
      FROM a)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           srm_chi2, mean_0, mean_1,
           mean_1 / mean_0 - 1.0 AS lift, se,
           (mean_1 - mean_0) / se AS z,
           abs((mean_1 - mean_0) / se) > 1.959963984540054
             AS significant,
           2.8015852181129683 * se AS mde_abs
    FROM m
    """,
)
def ab_experiment_report_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-pass A/B experiment report — SRM guardrail + Welch z +
    lift + MDE from the SAME six sufficient statistics
    (stats/cuped.py ab_report), certifying the experimentation family
    composes into the single aggregate a platform actually runs."""
    from gofast_spark.ml.selection import kfold_assign
    from gofast_spark.stats.cuped import ab_report

    e = kfold_assign(
        _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull()),
        "user_id", 2, seed=0, out_col="variant",
    )
    return ab_report(e, "value", "variant")


@query(
    "negbin_fit_user_events",
    oracle="""
    WITH cnt AS (
      SELECT user_id, count(*) AS c FROM events
      WHERE user_id IS NOT NULL GROUP BY 1),
    a AS (
      SELECT count(*) AS n,
             sum(CAST(c AS HUGEINT)) AS s,
             sum(CAST(c AS HUGEINT) * c) AS ss,
             sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS z
      FROM cnt),
    m AS (
      SELECT n, z,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(n * ss - s * s AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) AS var
      FROM a)
    SELECT CAST(n AS BIGINT) AS n, mean, var,
           var / mean AS dispersion,
           CAST(z AS DOUBLE) / CAST(n AS DOUBLE) AS zero_share,
           CASE WHEN var > mean THEN mean / var END AS p,
           CASE WHEN var > mean THEN mean * mean / (var - mean) END AS r
    FROM m
    """,
)
def negbin_fit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of per-user event counts by the method of
    moments (stats/descriptive.py negbin_fit_moments; Anscombe 1950) —
    the overdispersion readout that justifies NB user-activity models
    over Poisson; one user groupBy + one exact-moment aggregate."""
    from gofast_spark.stats.descriptive import negbin_fit_moments

    cnt = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return negbin_fit_moments(cnt, "c")


@query(
    "audience_overlap_events",
    oracle="""
    WITH gu AS (
      SELECT DISTINCT event_type AS g, user_id AS u FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    sizes AS (SELECT g, count(*) AS n FROM gu GROUP BY 1),
    inter AS (
      SELECT a.g AS g1, b.g AS g2, count(*) AS n_common
      FROM gu a JOIN gu b ON a.u = b.u AND a.g < b.g
      GROUP BY 1, 2)
    SELECT g1, g2,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_g1,
           CAST(sb.n AS BIGINT) AS n_g2,
           CAST(n_common AS DOUBLE)
             / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard,
           CAST(n_common AS DOUBLE)
             / CAST(least(sa.n, sb.n) AS DOUBLE) AS overlap_coef
    FROM inter
    JOIN sizes sa ON sa.g = inter.g1
    JOIN sizes sb ON sb.g = inter.g2
    """,
)
def audience_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user overlap between event types
    (operators/sessionize.py audience_overlap) — Jaccard +
    Szymkiewicz-Simpson coefficients from ONE user-keyed self-join of
    the reduced (type, user) frame; the cross-source sibling of
    `source_overlap_documents` on behavioral audiences."""
    from gofast_spark.operators.sessionize import audience_overlap

    return audience_overlap(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    )


_ENTROPY_CTES = """
    d AS (
      SELECT event_type AS x, CAST(hour(ts) // 6 AS INT) AS y
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
    xy AS (SELECT x, y, count(*) AS n FROM d GROUP BY 1, 2),
    hxy AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM xy),
    hx AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM (SELECT x, sum(n) AS n FROM xy GROUP BY x)),
    hy AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM (SELECT y, sum(n) AS n FROM xy GROUP BY y)),
    e AS (
      SELECT CAST(hxy.n AS BIGINT) AS n,
             CAST(floor((ln(CAST(hx.n AS DOUBLE))
               - CAST(hx.s AS DOUBLE) / 1e6 / CAST(hx.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hx_u6,
             CAST(floor((ln(CAST(hy.n AS DOUBLE))
               - CAST(hy.s AS DOUBLE) / 1e6 / CAST(hy.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hy_u6,
             CAST(floor((ln(CAST(hxy.n AS DOUBLE))
               - CAST(hxy.s AS DOUBLE) / 1e6 / CAST(hxy.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hxy_u6
      FROM hxy, hx, hy)
"""


@query(
    "mutual_info_events",
    oracle=f"""
    WITH {_ENTROPY_CTES}
    SELECT n, hx_u6, hy_u6, hxy_u6,
           hx_u6 + hy_u6 - hxy_u6 AS mi_u6
    FROM e
    """,
)
def mutual_info_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and six-hour time-of-day
    bucket (stats/infotheory.py entropy_report; Shannon 1948;
    completes the reference's categorical-association family —
    Cramer's V and friends live in gofast/stats/relationships.py):
    MI = H(X) + H(Y) - H(X,Y), each entropy from ONE contingency
    aggregate with micro-unit-quantized n*ln(n) summands, so the MI in
    micro-units is pure integer arithmetic in both engines."""
    from gofast_spark.stats.infotheory import entropy_report

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("x"),
        F.expr("CAST(hour(ts) DIV 6 AS INT)").alias("y"),
    )
    return entropy_report(e, "x", "y").select(
        "n", "hx_u6", "hy_u6", "hxy_u6", "mi_u6"
    )


@query(
    "theils_u_events",
    oracle=f"""
    WITH {_ENTROPY_CTES}
    SELECT n, hx_u6 + hy_u6 - hxy_u6 AS mi_u6, hx_u6,
           CASE WHEN hx_u6 > 0
                THEN CAST(hx_u6 + hy_u6 - hxy_u6 AS DOUBLE)
                     / CAST(hx_u6 AS DOUBLE)
                ELSE 0.0 END AS theil_u_xy
    FROM e
    """,
)
def theils_u_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(event_type | time bucket)
    (stats/infotheory.py entropy_report; Theil, "On the estimation of
    relationships involving qualitative variables", Am. J. Sociology
    1970): the asymmetric, [0,1]-normalized "how much does knowing Y
    reduce uncertainty about X" — MI / H(X) as one division of two
    exact micro-unit integers."""
    from gofast_spark.stats.infotheory import entropy_report

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("x"),
        F.expr("CAST(hour(ts) DIV 6 AS INT)").alias("y"),
    )
    return entropy_report(e, "x", "y").select(
        "n", "mi_u6", "hx_u6", "theil_u_xy"
    )


_A2_GBAR = "(CAST(ss AS DOUBLE) / 1000000.0 / CAST(nn AS DOUBLE))"
_A2_DA = (f"(CAST(s_a AS DOUBLE) / 1000000.0 / CAST(n_a AS DOUBLE)"
          f" - {_A2_GBAR})")
_A2_DB = (f"(CAST(s_b AS DOUBLE) / 1000000.0 / CAST(n_b AS DOUBLE)"
          f" - {_A2_GBAR})")
_A2_DC = (f"(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)"
          f" - {_A2_GBAR})")


@query(
    "anova_two_way_events",
    oracle=f"""
    WITH d AS (
      SELECT event_type AS a, CAST(day(ts) % 7 AS INT) AS b,
             CAST(value AS DOUBLE) AS v
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL),
    cells AS (
      SELECT a, b, count(*) AS n,
             sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)) AS qq
      FROM d GROUP BY 1, 2),
    m AS (
      SELECT a, b, n, s, qq,
             sum(n) OVER (PARTITION BY a) AS n_a,
             sum(s) OVER (PARTITION BY a) AS s_a,
             sum(n) OVER (PARTITION BY b) AS n_b,
             sum(s) OVER (PARTITION BY b) AS s_b,
             sum(n) OVER () AS nn, sum(s) OVER () AS ss,
             sum(qq) OVER () AS qt,
             count(*) OVER (PARTITION BY a) AS nc_a,
             count(*) OVER (PARTITION BY b) AS nc_b
      FROM cells),
    terms AS (
      SELECT nn, qt, ss,
             CAST(floor(CAST(n_a AS DOUBLE) * {_A2_DA} * {_A2_DA}
               / CAST(nc_a AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS t_a,
             CAST(floor(CAST(n_b AS DOUBLE) * {_A2_DB} * {_A2_DB}
               / CAST(nc_b AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS t_b,
             CAST(floor(CAST(n AS DOUBLE) * {_A2_DC} * {_A2_DC}
               * 1000000.0 + 0.5) AS BIGINT) AS t_c
      FROM m),
    agg AS (
      SELECT max(nn) AS nn, max(qt) AS qt, max(ss) AS ss,
             sum(t_a) AS sa_u, sum(t_b) AS sb_u, sum(t_c) AS sc_u
      FROM terms),
    lv AS (SELECT count(DISTINCT a) AS la, count(DISTINCT b) AS lb
           FROM cells),
    fin AS (
      SELECT CAST(nn AS BIGINT) AS n,
             CAST(la - 1 AS BIGINT) AS df_a,
             CAST(lb - 1 AS BIGINT) AS df_b,
             CAST((la - 1) * (lb - 1) AS BIGINT) AS df_ab,
             CAST(nn - la * lb AS BIGINT) AS df_err,
             CAST(sa_u AS DOUBLE) / 1000000.0 AS ss_a,
             CAST(sb_u AS DOUBLE) / 1000000.0 AS ss_b,
             CAST(sc_u AS DOUBLE) / 1000000.0
               - CAST(sa_u AS DOUBLE) / 1000000.0
               - CAST(sb_u AS DOUBLE) / 1000000.0 AS ss_ab,
             CAST(qt AS DOUBLE) / 1000000.0
               - CAST(nn AS DOUBLE)
                 * (CAST(ss AS DOUBLE) / 1000000.0 / CAST(nn AS DOUBLE))
                 * (CAST(ss AS DOUBLE) / 1000000.0 / CAST(nn AS DOUBLE))
               - CAST(sc_u AS DOUBLE) / 1000000.0 AS ss_err
      FROM agg, lv)
    SELECT n, df_a, df_b, df_ab, df_err, ss_a, ss_b, ss_ab, ss_err,
           ss_a / CAST(df_a AS DOUBLE)
             / (ss_err / CAST(df_err AS DOUBLE)) AS f_a,
           ss_b / CAST(df_b AS DOUBLE)
             / (ss_err / CAST(df_err AS DOUBLE)) AS f_b,
           ss_ab / CAST(df_ab AS DOUBLE)
             / (ss_err / CAST(df_err AS DOUBLE)) AS f_ab
    FROM fin
    """,
)
def anova_two_way_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way factorial ANOVA with interaction: event value by
    event_type x day-of-month-mod-7 (stats/inferential.py
    anova_two_way; Scheffe 1959; the reference's ANOVA is the one-way
    statistical_tests dispatch, gofast/stats/inferential.py:97 — this
    adds the factorial decomposition).  One (a, b) cell aggregate with
    decimal-widened micro-unit moments, window margins, and per-term
    quantized SS sums — all twelve outputs deterministic, presented
    unrounded."""
    from gofast_spark.stats.inferential import anova_two_way

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("a"),
        F.expr("CAST(day(ts) % 7 AS INT)").alias("b"),
        "value",
    )
    return anova_two_way(e, "a", "b", "value")


@query(
    "welch_anova_events",
    oracle="""
    WITH per_g AS (
      SELECT event_type AS g, count(*) AS n_g,
             sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                 AS BIGINT)) AS s_g,
             sum(CAST(floor(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT)) AS q_g
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    st AS (
      SELECT g, n_g,
             CAST(n_g AS DOUBLE)
               / ((CAST(q_g AS DOUBLE) / 1000000.0
                   - CAST(n_g AS DOUBLE)
                     * (CAST(s_g AS DOUBLE) / 1000000.0
                        / CAST(n_g AS DOUBLE))
                     * (CAST(s_g AS DOUBLE) / 1000000.0
                        / CAST(n_g AS DOUBLE)))
                  / (CAST(n_g AS DOUBLE) - 1.0)) AS w,
             CAST(s_g AS DOUBLE) / 1000000.0 / CAST(n_g AS DOUBLE) AS mu
      FROM per_g),
    m AS (
      SELECT n_g, w, mu,
             sum(CAST(floor(w * 1000000.0 + 0.5) AS BIGINT)) OVER ()
               AS ww_u,
             sum(CAST(floor(w * mu * 1000000.0 + 0.5) AS BIGINT)) OVER ()
               AS wm_u,
             count(*) OVER () AS k, sum(n_g) OVER () AS nn
      FROM st),
    t AS (
      SELECT k, nn,
             CAST(floor(w * (mu - CAST(wm_u AS DOUBLE) / 1000000.0
                              / (CAST(ww_u AS DOUBLE) / 1000000.0))
                          * (mu - CAST(wm_u AS DOUBLE) / 1000000.0
                              / (CAST(ww_u AS DOUBLE) / 1000000.0))
                        * 1000000.0 + 0.5) AS BIGINT) AS au,
             CAST(floor((1.0 - w / (CAST(ww_u AS DOUBLE) / 1000000.0))
                        * (1.0 - w / (CAST(ww_u AS DOUBLE) / 1000000.0))
                        / (CAST(n_g AS DOUBLE) - 1.0)
                        * 1000000.0 + 0.5) AS BIGINT) AS bu
      FROM m),
    agg AS (
      SELECT max(k) AS k, max(nn) AS nn, sum(au) AS sa, sum(bu) AS sb
      FROM t)
    SELECT (CAST(sa AS DOUBLE) / 1000000.0 / (CAST(k AS DOUBLE) - 1.0))
             / (1.0 + (2.0 * (CAST(k AS DOUBLE) - 2.0)
                       / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0))
                      * (CAST(sb AS DOUBLE) / 1000000.0)) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
             / (3.0 * (CAST(sb AS DOUBLE) / 1000000.0)) AS df2,
           CAST(k AS BIGINT) AS k,
           CAST(nn AS BIGINT) AS n
    FROM agg
    """,
)
def welch_anova_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroskedastic one-way ANOVA across event types
    (stats/inferential.py welch_anova; Welch, Biometrika 1951) — the
    unequal-variances F* next to the pooled anova_events (green r1):
    per-group micro-unit-exact moments from ONE groupBy, k-sized
    reductions with quantized summands, F*/df2 deterministic and
    presented unrounded."""
    from gofast_spark.stats.inferential import welch_anova

    e = _t(spark, sf_dir, "events")
    return welch_anova(e, "value", "event_type")


def _bp_oracle() -> str:
    """Both OLS passes replayed: main-fit Cramer w, residual squares,
    auxiliary-fit R^2 in the exact driver expression order of
    ml/regression.fit_linear_regression."""
    A = [["a00", "a01", "a02"], ["a01", "a11", "a12"], ["a02", "a12", "a22"]]
    bb = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[bb[i] if c == j else A[i][c] for c in range(3)]
              for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    # flat row-major quadratic form, mirroring the python generator
    quad = " + ".join(
        f"w{i} * {A[i][j]} * w{j}" for i in range(3) for j in range(3)
    )
    moments = """
      SELECT CAST(count(*) AS DOUBLE) AS a00,
             sum(x1) AS a01, sum(x2) AS a02,
             sum(x1 * x1) AS a11, sum(x1 * x2) AS a12,
             sum(x2 * x2) AS a22,
             sum(y) AS b0, sum(x1 * y) AS b1, sum(x2 * y) AS b2,
             sum(y * y) AS yy, count(*) AS n"""
    return f"""
    WITH d0 AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             CAST(l_discount AS DOUBLE) AS x2,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    m1 AS ({moments} FROM d0),
    w1 AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2 FROM m1),
    d1 AS (
      SELECT x1, x2, y - (w0 + w1 * x1 + w2 * x2) AS e
      FROM d0, w1),
    d2 AS (SELECT x1, x2, e * e AS y FROM d1),
    m2 AS ({moments} FROM d2),
    w2c AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2,
                   a00, a01, a02, a11, a12, a22, b0, b1, b2, yy, n
            FROM m2),
    fin AS (
      SELECT n,
             1.0 - (yy - 2.0 * (w0 * b0 + w1 * b1 + w2 * b2) + ({quad}))
                   / (yy - b0 * b0 / n) AS r2
      FROM w2c)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(r2, 6) AS DOUBLE) AS r2_aux,
           CAST(round(n * r2, 4) AS DOUBLE) AS lm_stat,
           CAST(2 AS INT) AS dof
    FROM fin
    """


@query("breusch_pagan_lineitem", oracle=_bp_oracle())
def breusch_pagan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test, Koenker's studentized
    LM = n * R^2_aux form (stats/inferential.py breusch_pagan; Breusch
    & Pagan 1979, Koenker 1981; completes the regression-diagnostics
    family next to durbin_watson/jarque_bera/cooks_distance): the
    residual-variance regression of extendedprice ~ quantity +
    discount — two single-aggregate passes, both Cramer chains
    replayed verbatim by the oracle."""
    from gofast_spark.stats.inferential import breusch_pagan

    li = _t(spark, sf_dir, "lineitem")
    return breusch_pagan(
        li, ["l_quantity", "l_discount"], "l_extendedprice"
    )


@query(
    "ks_normal_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    s AS (SELECT avg(v) AS mu, stddev_pop(v) AS sd FROM d),
    per_v AS (SELECT v, count(*) AS c FROM d GROUP BY v),
    cum AS (
      SELECT v, c,
             sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum,
             sum(c) OVER () AS nn
      FROM per_v),
    z AS (
      SELECT v, cum, cum - c AS cum_prev, nn,
             (v - mu) / (sd * sqrt(2.0)) AS zz
      FROM cum, s),
    e AS (SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z),
    ph AS (
      SELECT cum, cum_prev, nn,
             CASE WHEN zz >= 0
                  THEN 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
                  ELSE 1.0 - 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
             END AS phi
      FROM e),
    gaps AS (
      SELECT nn,
             CAST(floor((CAST(cum AS DOUBLE) / CAST(nn AS DOUBLE) - phi)
               * 1000000.0 + 0.5) AS BIGINT) AS dp_u,
             CAST(floor((phi - CAST(cum_prev AS DOUBLE)
               / CAST(nn AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS dm_u
      FROM ph),
    agg AS (
      SELECT CAST(max(nn) AS BIGINT) AS n, max(dp_u) AS d_plus_u6,
             max(dm_u) AS d_minus_u6
      FROM gaps)
    SELECT n,
           (SELECT CAST(round(mu, 6) AS DOUBLE) FROM s) AS mu,
           (SELECT CAST(round(sd, 6) AS DOUBLE) FROM s) AS sd,
           d_plus_u6, d_minus_u6,
           greatest(d_plus_u6, d_minus_u6) AS d_u6
    FROM agg
    """,
)
def ks_normal_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of account balances against
    the fitted normal (stats/inferential.py ks_normal_test;
    Kolmogorov 1933, Lilliefors plug-in of sample mu/sd; the
    reference's kolmogorov_smirnov_test is the two-sample scipy wrap,
    gofast/stats/inferential.py:1173 — this adds the one-sample
    goodness-of-fit form): ECDF-vs-Phi sups over the distinct-value
    table with the shared Abramowitz-Stegun erf polynomial, per-value
    gaps quantized so the sup is an integer max."""
    from gofast_spark.stats.inferential import ks_normal_test

    return ks_normal_test(_t(spark, sf_dir, "customer"), "c_acctbal")


@query(
    "poisson_dispersion_user_events",
    oracle="""
    WITH per AS (
      SELECT user_id AS k, count(*) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    a AS (
      SELECT count(*) AS n, sum(c) AS s,
             sum(CAST(c AS HUGEINT) * c) AS q
      FROM per)
    SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS total,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           (CAST(q AS DOUBLE) - CAST(n AS DOUBLE)
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0) AS variance,
           ((CAST(q AS DOUBLE) - CAST(n AS DOUBLE)
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             AS dispersion_index,
           (CAST(n AS DOUBLE) - 1.0)
             * ((CAST(q AS DOUBLE) - CAST(n AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                / (CAST(n AS DOUBLE) - 1.0))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_stat,
           CAST(n - 1 AS BIGINT) AS dof
    FROM a
    """,
)
def poisson_dispersion_user_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher's dispersion test on per-user event counts
    (stats/inferential.py poisson_dispersion; Fisher 1950, Cox & Lewis
    1966): the equidispersion check that motivates the negative
    -binomial fit already in the catalog (negbin_fit_user_events,
    green r10).  Integer count moments end-to-end — every output
    deterministic, unrounded."""
    from gofast_spark.stats.inferential import poisson_dispersion

    e = _t(spark, sf_dir, "events")
    return poisson_dispersion(e, "user_id")


@query(
    "tukey_hsd_pairs_events",
    oracle="""
    WITH per_g AS (
      SELECT event_type AS g, count(*) AS n_g,
             sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                 AS BIGINT)) AS s_g,
             sum(CAST(floor(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT)) AS q_g
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    m AS (
      SELECT g, n_g,
             CAST(s_g AS DOUBLE) / 1000000.0 / CAST(n_g AS DOUBLE) AS mu,
             sum(CAST(floor((CAST(q_g AS DOUBLE) / 1000000.0
               - CAST(n_g AS DOUBLE)
                 * (CAST(s_g AS DOUBLE) / 1000000.0 / CAST(n_g AS DOUBLE))
                 * (CAST(s_g AS DOUBLE) / 1000000.0 / CAST(n_g AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT)) OVER () AS ssw_u,
             sum(n_g) OVER () AS nn, count(*) OVER () AS k
      FROM per_g),
    w AS (
      SELECT g, n_g, mu,
             CAST(ssw_u AS DOUBLE) / 1000000.0
               / CAST(nn - k AS DOUBLE) AS mse
      FROM m)
    SELECT a.g AS g_a, b.g AS g_b,
           CAST(a.n_g AS BIGINT) AS n_a, CAST(b.n_g AS BIGINT) AS n_b,
           a.mu - b.mu AS mean_diff,
           sqrt(a.mse / 2.0 * (1.0 / CAST(a.n_g AS DOUBLE)
                + 1.0 / CAST(b.n_g AS DOUBLE))) AS se,
           abs(a.mu - b.mu)
             / sqrt(a.mse / 2.0 * (1.0 / CAST(a.n_g AS DOUBLE)
                + 1.0 / CAST(b.n_g AS DOUBLE))) AS q_stat
    FROM w a JOIN w b ON a.g < b.g
    ORDER BY g_a, g_b
    """,
)
def tukey_hsd_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD pairwise comparisons across event types
    (stats/inferential.py tukey_hsd; Tukey 1949, Kramer 1956) — the
    post-hoc that follows a significant ANOVA F, with the
    studentized-range q per pair from one micro-unit-exact moment
    pass and a groups-sized broadcast self-join.  Deterministic,
    unrounded."""
    from gofast_spark.stats.inferential import tukey_hsd

    e = _t(spark, sf_dir, "events")
    return tukey_hsd(e, "value", "event_type")


@query(
    "cvm_normal_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    s AS (SELECT avg(v) AS mu, stddev_pop(v) AS sd FROM d),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS i,
             count(*) OVER () AS nn
      FROM d),
    z AS (SELECT i, nn, (v - mu) / (sd * sqrt(2.0)) AS zz FROM r, s),
    e AS (SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z),
    ph AS (
      SELECT i, nn,
             CASE WHEN zz >= 0
                  THEN 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
                  ELSE 1.0 - 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
             END AS phi
      FROM e),
    t2 AS (
      SELECT nn,
             CAST(floor((phi - (2.0 * CAST(i AS DOUBLE) - 1.0)
                         / (2.0 * CAST(nn AS DOUBLE)))
                        * (phi - (2.0 * CAST(i AS DOUBLE) - 1.0)
                           / (2.0 * CAST(nn AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tq
      FROM ph),
    agg AS (SELECT CAST(max(nn) AS BIGINT) AS n, sum(tq) AS su FROM t2)
    SELECT n,
           (SELECT CAST(round(mu, 6) AS DOUBLE) FROM s) AS mu,
           (SELECT CAST(round(sd, 6) AS DOUBLE) FROM s) AS sd,
           CAST(floor(1.0 / (12.0 * CAST(n AS DOUBLE)) * 1000000000.0
                + 0.5) AS BIGINT) + CAST(su AS BIGINT) AS w2_u9
    FROM agg
    """,
)
def cvm_normal_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Cramer-von Mises normality statistic over account
    balances (stats/inferential.py cvm_normal_test; Cramer 1928, von
    Mises 1928) — the quadratic-ECDF companion of ks_normal_acctbal's
    sup: tie-invariant ranked terms through the shared erf polynomial,
    nano-quantized before the integer sum."""
    from gofast_spark.stats.inferential import cvm_normal_test

    return cvm_normal_test(_t(spark, sf_dir, "customer"), "c_acctbal")


@query(
    "lognormal_fit_price",
    oracle="""
    WITH d AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
    a AS (
      SELECT count(*) AS n,
             sum(CAST(floor(ln(v) * 1000000.0 + 0.5) AS BIGINT)) AS su,
             sum(CAST(floor(ln(v) * ln(v) * 1000000.0 + 0.5)
                 AS BIGINT)) AS sq
      FROM d)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(su AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mu_ln,
           sqrt(CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
                - (CAST(su AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
                  * (CAST(su AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)))
             AS sigma_ln,
           CAST(floor(exp(CAST(su AS DOUBLE) / 1000000.0
                          / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS median_u6
    FROM a
    """,
)
def lognormal_fit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal MLE over extended prices (stats/distfit.py
    lognormal_fit; Johnson-Kotz-Balakrishnan ch. 14; the reference
    fits/uses log-normal samples throughout
    gofast/stats/descriptive.py:326) — mu/sigma of ln(x) from one
    aggregate of u6-quantized per-row logs, implied median exp(mu)
    quantized per the transcendental-output rule."""
    from gofast_spark.stats.distfit import lognormal_fit

    return lognormal_fit(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


@query(
    "gamma_mom_price",
    oracle="""
    WITH d AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
    a AS (
      SELECT count(*) AS n,
             sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)) AS q
      FROM d)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean,
           (CAST(q AS DOUBLE) / 1000000.0
            - CAST(n AS DOUBLE)
              * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0) AS variance,
           ((CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)))
             / ((CAST(q AS DOUBLE) / 1000000.0
                 - CAST(n AS DOUBLE)
                   * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)))
                / (CAST(n AS DOUBLE) - 1.0)) AS shape,
           ((CAST(q AS DOUBLE) / 1000000.0
             - CAST(n AS DOUBLE)
               * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
               * (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)))
            / (CAST(n AS DOUBLE) - 1.0))
             / (CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
             AS scale
    FROM a
    """,
)
def gamma_mom_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma method-of-moments fit over extended prices
    (stats/distfit.py gamma_mom_fit; Johnson-Kotz-Balakrishnan ch. 17):
    shape = mean^2/var, scale = var/mean from micro-unit-exact moments
    — one scan, deterministic, unrounded."""
    from gofast_spark.stats.distfit import gamma_mom_fit

    return gamma_mom_fit(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


@query(
    "pareto_tail_price",
    oracle="""
    WITH d AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v, l_orderkey,
             l_linenumber
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
    r AS (
      SELECT v, row_number() OVER (
               ORDER BY v DESC, l_orderkey, l_linenumber) AS i
      FROM d),
    top AS (SELECT * FROM r WHERE i <= 501),
    thr AS (SELECT min(CASE WHEN i = 501 THEN v END) AS xm FROM top),
    su AS (
      SELECT sum(CAST(floor(ln(v / xm) * 1000000000.0 + 0.5)
                 AS BIGINT)) AS s
      FROM top, thr WHERE i <= 500)
    SELECT CAST(500 AS BIGINT) AS k,
           (SELECT xm FROM thr) AS x_threshold,
           500.0 * 1000000000.0 / CAST(s AS DOUBLE) AS alpha
    FROM su
    """,
)
def pareto_tail_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate over the top-500 extended prices
    (stats/distfit.py pareto_tail_fit; Hill, Ann. Statist. 1975):
    deterministic (value DESC, key) top-k selection, u9-quantized
    log-ratios, one division — the heavy-tail screen that pairs with
    the log-normal/gamma fits."""
    from gofast_spark.stats.distfit import pareto_tail_fit

    return pareto_tail_fit(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        k=500,
    )


@query(
    "anderson_darling_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    s AS (SELECT avg(v) AS mu, stddev_pop(v) AS sd FROM d),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS i,
             count(*) OVER () AS nn
      FROM d),
    z AS (SELECT i, nn, (v - mu) / (sd * sqrt(2.0)) AS zz FROM r, s),
    e AS (SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z),
    ph AS (
      SELECT i, nn,
             CASE WHEN zz >= 0
                  THEN 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
                  ELSE 1.0 - 0.5 * (1.0 + (1.0 - (t * (0.254829592
                    + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))))
                    * exp(-abs(zz) * abs(zz))))
             END AS phi
      FROM e),
    pc AS (
      SELECT i, nn,
             least(greatest(phi, 0.000000000001),
                   1.0 - 0.000000000001) AS phi
      FROM ph),
    t2 AS (
      SELECT nn,
             CAST(floor(((2.0 * CAST(i AS DOUBLE) - 1.0) * ln(phi)
                         + (2.0 * (CAST(nn AS DOUBLE)
                                   - CAST(i AS DOUBLE)) + 1.0)
                           * ln(1.0 - phi))
                        * 1000000.0 + 0.5) AS BIGINT) AS tq
      FROM pc),
    agg AS (SELECT CAST(max(nn) AS BIGINT) AS n, sum(tq) AS su FROM t2)
    SELECT n,
           (SELECT CAST(round(mu, 6) AS DOUBLE) FROM s) AS mu,
           (SELECT CAST(round(sd, 6) AS DOUBLE) FROM s) AS sd,
           -CAST(n AS DOUBLE)
             - CAST(su AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS a2
    FROM agg
    """,
)
def anderson_darling_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality statistic over account balances
    (stats/distfit.py anderson_darling_normal; Anderson & Darling
    1952, Stephens 1974; reference: gofast/stats/evaluation.py:928
    NormalityTests.anderson_darling_test wraps scipy.stats.anderson) —
    the tail-weighted companion of ks_normal_acctbal/cvm_normal_acctbal:
    single-pass ranked form through the shared erf polynomial,
    u6-quantized summands, clamped Phi."""
    from gofast_spark.stats.distfit import anderson_darling_normal

    return anderson_darling_normal(_t(spark, sf_dir, "customer"), "c_acctbal")


def _ic_loco_moments() -> str:
    """Shared moments CTE for the information-criteria and LOCO
    entries: the breusch_pagan design (quantity, discount ->
    extendedprice) so the three regression diagnostics share one
    contract."""
    return """
    WITH d0 AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             CAST(l_discount AS DOUBLE) AS x2,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS a00,
             sum(x1) AS a01, sum(x2) AS a02,
             sum(x1 * x1) AS a11, sum(x1 * x2) AS a12,
             sum(x2 * x2) AS a22,
             sum(y) AS b0, sum(x1 * y) AS b1, sum(x2 * y) AS b2,
             sum(y * y) AS yy, count(*) AS n
      FROM d0)"""


def _sse3_sql() -> str:
    """Full-model SSE in the exact python expression order of
    ml.regression (w·b flat, then row-major quadratic form)."""
    A = [["a00", "a01", "a02"], ["a01", "a11", "a12"], ["a02", "a12", "a22"]]
    bb = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[bb[i] if c == j else A[i][c] for c in range(3)]
              for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    quad = " + ".join(
        f"w{i} * {A[i][j]} * w{j}" for i in range(3) for j in range(3)
    )
    return (
        f"w3 AS (SELECT {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2,"
        " a00, a01, a02, a11, a12, a22, b0, b1, b2, yy, n FROM m),\n"
        "    sse3 AS (SELECT n, yy - b0 * b0 / n AS sst,"
        f" yy - 2.0 * (w0 * b0 + w1 * b1 + w2 * b2) + ({quad}) AS sse"
        " FROM w3)"
    )


def _sse2_sql(tag: str, a_keep: str, b_keep: str, aa: str) -> str:
    """Reduced-model (intercept + one feature) SSE: 2x2 Cramer in the
    fixed _det2 order.  ``a_keep`` = cross term a0x, ``b_keep`` = bx,
    ``aa`` = axx."""
    det = f"(a00 * {aa} - {a_keep} * {a_keep})"
    w0 = f"((b0 * {aa} - {a_keep} * {b_keep}) / {det})"
    w1 = f"((a00 * {b_keep} - b0 * {a_keep}) / {det})"
    quad = (
        f"{w0} * a00 * {w0} + {w0} * {a_keep} * {w1}"
        f" + {w1} * {a_keep} * {w0} + {w1} * {aa} * {w1}"
    )
    return (
        f"{tag} AS (SELECT n,"
        f" yy - 2.0 * ({w0} * b0 + {w1} * {b_keep}) + ({quad}) AS sse"
        " FROM m)"
    )


@query(
    "aic_bic_ols_lineitem",
    oracle=f"""
    {_ic_loco_moments()},
    {_sse3_sql()}
    SELECT CAST(n AS BIGINT) AS n, CAST(3 AS INT) AS k_params,
           CAST(round(1.0 - sse / sst, 6) AS DOUBLE) AS r2,
           CAST(round(CAST(n AS DOUBLE) * ln(sse / CAST(n AS DOUBLE))
                      + 2.0 * 3, 4) AS DOUBLE) AS aic,
           CAST(round(CAST(n AS DOUBLE) * ln(sse / CAST(n AS DOUBLE))
                      + 3 * ln(CAST(n AS DOUBLE)), 4) AS DOUBLE) AS bic
    FROM sse3
    """,
)
def aic_bic_ols_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC/BIC of the OLS fit extendedprice ~ quantity + discount
    (ml/regression.py information_criteria; Akaike 1974, Schwarz 1978;
    reference gofast/stats/evaluation.py:1063-1071 InformationCriteria)
    — the concentrated-Gaussian form n ln(SSE/n) + penalty from the
    same one-scan Cramer fit as breusch_pagan_lineitem."""
    from gofast_spark.ml.regression import information_criteria

    li = _t(spark, sf_dir, "lineitem")
    return information_criteria(
        li, ["l_quantity", "l_discount"], "l_extendedprice"
    )


@query(
    "loco_importance_lineitem",
    oracle=f"""
    {_ic_loco_moments()},
    {_sse3_sql()},
    {_sse2_sql("sse_wo1", "a02", "b2", "a22")},
    {_sse2_sql("sse_wo2", "a01", "b1", "a11")}
    SELECT * FROM (
      SELECT 'l_quantity' AS feature,
             CAST(round(1.0 - f.sse / f.sst, 6) AS DOUBLE) AS r2_full,
             CAST(round(1.0 - r.sse / f.sst, 6) AS DOUBLE) AS r2_reduced,
             CAST(round((1.0 - f.sse / f.sst)
                        - (1.0 - r.sse / f.sst), 6) AS DOUBLE)
               AS delta_r2
      FROM sse3 f, sse_wo1 r
      UNION ALL
      SELECT 'l_discount' AS feature,
             CAST(round(1.0 - f.sse / f.sst, 6) AS DOUBLE) AS r2_full,
             CAST(round(1.0 - r.sse / f.sst, 6) AS DOUBLE) AS r2_reduced,
             CAST(round((1.0 - f.sse / f.sst)
                        - (1.0 - r.sse / f.sst), 6) AS DOUBLE)
               AS delta_r2
      FROM sse3 f, sse_wo2 r)
    ORDER BY feature
    """,
)
def loco_importance_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-covariate-out importance for the two-feature OLS fit
    (ml/regression.py loco_importance; Lei et al. JASA 2018; reference
    gofast/stats/evaluation.py:1487 FeatureImportanceTests) — the
    refit-based importance that closed-form OLS gets from ONE moment
    scan: both reduced models are submatrices of the full Gram
    matrix."""
    from gofast_spark.ml.regression import loco_importance

    li = _t(spark, sf_dir, "lineitem")
    return loco_importance(
        li, ["l_quantity", "l_discount"], "l_extendedprice"
    )


def _ppf_sql(p: str) -> str:
    """Acklam inverse-normal replay: generated from the SAME
    coefficient tuples as stats/probs.normal_ppf (repr round-trip), so
    both engines evaluate one expression tree."""
    from gofast_spark.stats.probs import (
        PPF_A, PPF_B, PPF_C, PPF_D, PPF_P_LOW,
    )

    def tail(q: str) -> str:
        c, dd = PPF_C, PPF_D
        num = (
            f"(((({c[0]!r} * {q} + {c[1]!r}) * {q} + {c[2]!r}) * {q}"
            f" + {c[3]!r}) * {q} + {c[4]!r}) * {q} + {c[5]!r}"
        )
        den = (
            f"((({dd[0]!r} * {q} + {dd[1]!r}) * {q} + {dd[2]!r}) * {q}"
            f" + {dd[3]!r}) * {q} + 1.0"
        )
        return f"({num}) / ({den})"

    a, b = PPF_A, PPF_B
    qc = f"({p} - 0.5)"
    r = f"({qc} * {qc})"
    num = (
        f"(((({a[0]!r} * {r} + {a[1]!r}) * {r} + {a[2]!r}) * {r}"
        f" + {a[3]!r}) * {r} + {a[4]!r}) * {r} + {a[5]!r}"
    )
    den = (
        f"(((({b[0]!r} * {r} + {b[1]!r}) * {r} + {b[2]!r}) * {r}"
        f" + {b[3]!r}) * {r} + {b[4]!r}) * {r} + 1.0"
    )
    lo = tail(f"sqrt(-2.0 * ln({p}))")
    hi = tail(f"sqrt(-2.0 * ln(1.0 - {p}))")
    return (
        f"CASE WHEN {p} < {PPF_P_LOW!r} THEN {lo}"
        f" WHEN {p} > {1.0 - PPF_P_LOW!r} THEN -({hi})"
        f" ELSE ({num}) * {qc} / ({den}) END"
    )


def _sf_oracle() -> str:
    m = _ppf_sql(
        "((CAST(i AS DOUBLE) - 0.375) / (CAST(nn AS DOUBLE) + 0.25))"
    )
    return f"""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS i,
             count(*) OVER () AS nn
      FROM d),
    q AS (
      SELECT CAST(floor(({m}) * 1000000.0 + 0.5) AS BIGINT) AS m,
             CAST(floor(v * 100.0 + 0.5) AS BIGINT) AS x
      FROM r),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(m * x) AS sxm, sum(m * m) AS smm,
             sum(x) AS sx, sum(x * x) AS sxx
      FROM q)
    SELECT n,
           (CAST(sxm AS DOUBLE) / 100000000.0)
             * (CAST(sxm AS DOUBLE) / 100000000.0)
             / ((CAST(smm AS DOUBLE) / 1000000000000.0)
                * ((CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) / 10000.0)) AS w_prime
    FROM a
    """


@query("shapiro_francia_acctbal", oracle=_sf_oracle())
def shapiro_francia_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapiro-Francia normality statistic over account balances
    (stats/distfit.py shapiro_francia; Shapiro & Francia JASA 1972;
    reference: gofast/stats/evaluation.py:923 shapiro_wilk_test wraps
    scipy — SF is its large-n order-score form): squared correlation
    of the order statistics with Blom normal scores through the shared
    Acklam inverse-normal polynomial, every sum an exact integer."""
    from gofast_spark.stats.distfit import shapiro_francia

    return shapiro_francia(_t(spark, sf_dir, "customer"), "c_acctbal")


def _hl_oracle(n_iter: int = 3, n_bins: int = 10) -> str:
    """The _logit_oracle Newton layers, then scoring at the
    round-5 weights, fixed-width probability bins, and the
    integer-quantized Hosmer-Lemeshow chi-square."""
    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,"
        " CAST(0.0 AS DOUBLE) AS w1)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        p = f"(1.0 / (1.0 + exp(-({prev}.w0 * 1.0 + {prev}.w1 * d.x))))"
        layers.append(f"""a{k} AS (
      SELECT sum({p} * (1.0 - {p}) * 1.0 * 1.0) AS h00,
             sum({p} * (1.0 - {p}) * 1.0 * d.x) AS h01,
             sum({p} * (1.0 - {p}) * d.x * d.x) AS h11,
             sum((d.y - {p}) * 1.0) AS g0,
             sum((d.y - {p}) * d.x) AS g1,
             count(*) AS n
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1,
             a{k}.n AS n
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    width = 1_000_000 // n_bins
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
    {cte},
    scored AS (
      SELECT CAST(floor((1.0 / (1.0 + exp(-(round({prev}.w0, 5)
                   + round({prev}.w1, 5) * d.x)))) * 1000000.0 + 0.5)
               AS BIGINT) AS pu,
             CAST(d.y AS BIGINT) AS y
      FROM d, {prev}),
    per AS (
      SELECT least(CAST(floor(pu / {width}.0) AS INT), {n_bins - 1})
               AS bin,
             count(*) AS n_g, sum(y) AS o1, sum(pu) AS e1u
      FROM scored GROUP BY 1),
    used AS (
      SELECT * FROM per
      WHERE e1u > 0 AND n_g * 1000000 - e1u > 0),
    fin AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS bins_used,
             sum(CAST(floor(((CAST(o1 AS DOUBLE)
                              - CAST(e1u AS DOUBLE) / 1000000.0)
                             * (CAST(o1 AS DOUBLE)
                                - CAST(e1u AS DOUBLE) / 1000000.0)
                             / (CAST(e1u AS DOUBLE) / 1000000.0)
                             + (CAST(o1 AS DOUBLE)
                                - CAST(e1u AS DOUBLE) / 1000000.0)
                               * (CAST(o1 AS DOUBLE)
                                  - CAST(e1u AS DOUBLE) / 1000000.0)
                               / (CAST(n_g AS DOUBLE)
                                  - CAST(e1u AS DOUBLE) / 1000000.0))
                            * 1000000.0 + 0.5) AS BIGINT)) AS chi2_u6
      FROM used)
    SELECT n, bins_used, CAST(chi2_u6 AS BIGINT) AS chi2_u6,
           CAST(bins_used - 2 AS BIGINT) AS dof
    FROM fin
    """


@query("hosmer_lemeshow_orders", oracle=_hl_oracle(3, 10))
def hosmer_lemeshow_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow calibration test of the 3-iteration Newton
    logistic fit of order finality on total price
    (stats/evaluation.py hosmer_lemeshow; Hosmer & Lemeshow 1980;
    reference gofast/stats/evaluation.py:379
    GoodnessOfFit.hosmer_lemeshow_test): fixed-width probability bins
    over round-5 weights (rank-decile bins are not ulp-stable across
    engines), integer-exact O/E, quantized per-bin contributions.
    The oracle replays the full Newton trajectory plus the binned
    chi-square."""
    from gofast_spark.ml import fit_logistic_regression
    from gofast_spark.stats.evaluation import hosmer_lemeshow

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    ).where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    m = fit_logistic_regression(d, ["x"], "y", n_iter=3, solver="cramer")
    w0 = round(m["coef"][0], 5)
    w1 = round(m["coef"][1], 5)
    z = F.lit(w0) + F.lit(w1) * F.col("x")
    scored = d.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"), "y"
    )
    return hosmer_lemeshow(scored, "p", "y", n_bins=10)


@query(
    "mood_median_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS i,
             count(*) OVER () AS nn
      FROM d),
    m AS (
      SELECT v AS med FROM r
      WHERE i = CAST(floor((CAST(nn AS DOUBLE) + 1.0) / 2.0) AS BIGINT)),
    per AS (
      SELECT g, count(*) AS n_g,
             sum(CASE WHEN v > (SELECT med FROM m) THEN 1 ELSE 0 END)
               AS a_g
      FROM d GROUP BY 1),
    mm AS (
      SELECT g, n_g, a_g,
             sum(n_g) OVER () AS n, sum(a_g) OVER () AS a,
             count(*) OVER () AS k
      FROM per),
    c AS (
      SELECT n, a, k,
             CAST(floor(((CAST(a_g AS DOUBLE)
                          - CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         * (CAST(a_g AS DOUBLE)
                            - CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE)
                              / CAST(n AS DOUBLE))
                         / (CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         + (CAST(n_g - a_g AS DOUBLE)
                            - CAST(n_g AS DOUBLE)
                              * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE))
                              / CAST(n AS DOUBLE))
                           * (CAST(n_g - a_g AS DOUBLE)
                              - CAST(n_g AS DOUBLE)
                                * (CAST(n AS DOUBLE)
                                   - CAST(a AS DOUBLE))
                                / CAST(n AS DOUBLE))
                           / (CAST(n_g AS DOUBLE)
                              * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE))
                              / CAST(n AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS cq
      FROM mm),
    agg AS (SELECT n, a, k, sum(cq) AS chi2 FROM c GROUP BY 1, 2, 3)
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CAST(a AS BIGINT) AS n_above,
           CAST(chi2 AS BIGINT) AS chi2_u9,
           CAST(k - 1 AS BIGINT) AS dof
    FROM agg
    """,
)
def mood_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types (stats/inferential.py
    mood_median_test; Mood 1950) — the coarse outlier-immune
    homogeneity check beside kruskal_wallis_events: lower-median
    threshold selected by integer rank (interpolated medians are not
    ulp-stable cross-engine), integer counts, u9-quantized per-group
    chi-square contributions."""
    from gofast_spark.stats.inferential import mood_median_test

    e = _t(spark, sf_dir, "events")
    return mood_median_test(e, "value", "event_type")


@query(
    "jonckheere_terpstra_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    cnt AS (SELECT v, g, count(*) AS c FROM d GROUP BY 1, 2),
    vals AS (SELECT DISTINCT v FROM d),
    grps AS (SELECT DISTINCT g FROM d),
    grid AS (SELECT vals.v, grps.g FROM vals, grps),
    cell AS (
      SELECT grid.v, grid.g, coalesce(cnt.c, 0) AS c
      FROM grid LEFT JOIN cnt ON grid.v = cnt.v AND grid.g = cnt.g),
    cum AS (
      SELECT v, g, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cp
      FROM cell),
    jt AS (
      SELECT sum(2 * b.c * a.cp + a.c * b.c) AS jt2
      FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g),
    sizes AS (SELECT g, count(*) AS n_g FROM d GROUP BY 1),
    mom AS (
      SELECT sum(n_g) AS n, sum(n_g * n_g) AS s2,
             sum(n_g * n_g * (2 * n_g + 3)) AS s3, count(*) AS k
      FROM sizes)
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CAST(jt2 AS BIGINT) AS jt2,
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(s2 AS DOUBLE)) / 2.0 AS mean2,
           (CAST(jt2 AS DOUBLE) / 2.0
            - ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(s2 AS DOUBLE)) / 2.0) / 2.0)
             / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * (2.0 * CAST(n AS DOUBLE) + 3.0)
                     - CAST(s3 AS DOUBLE)) / 72.0) AS z
    FROM jt, mom
    """,
)
def jonckheere_terpstra_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test across event types
    (stats/inferential.py jonckheere_terpstra; Jonckheere 1954,
    Terpstra 1952; group order lexicographic) — pairwise Mann-Whitney
    counts from ONE contingency + dense value-grid cumulative windows
    (the ks_by_group pattern), carried doubled so the statistic stays
    an exact integer."""
    from gofast_spark.stats.inferential import jonckheere_terpstra

    e = _t(spark, sf_dir, "events")
    return jonckheere_terpstra(e, "value", "event_type")


@query(
    "page_trend_weekday_events",
    oracle="""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS d FROM events WHERE ts IS NOT NULL),
    daily AS (SELECT d, count(*) AS v FROM e GROUP BY 1),
    keyed AS (
      SELECT CAST(isoyear(d) AS BIGINT) * 100
               + CAST(week(d) AS BIGINT) AS b,
             CAST(isodow(d) AS INT) AS t, v
      FROM daily),
    kg AS (SELECT count(DISTINCT t) AS k FROM keyed),
    ok AS (
      SELECT b FROM keyed GROUP BY b
      HAVING count(DISTINCT t) = (SELECT k FROM kg)),
    comp AS (SELECT keyed.* FROM keyed JOIN ok USING (b)),
    ranked AS (
      SELECT b, t,
             2 * rank() OVER (PARTITION BY b ORDER BY v)
               + count(*) OVER (PARTITION BY b, v) - 1 AS r2
      FROM comp),
    per_t AS (SELECT t, sum(r2) AS rr2 FROM ranked GROUP BY 1),
    idx AS (
      SELECT t, rr2, row_number() OVER (ORDER BY t) AS j FROM per_t),
    bb AS (SELECT count(DISTINCT b) AS nb FROM comp),
    agg AS (SELECT sum(j * rr2) AS l2 FROM idx)
    SELECT CAST(nb AS BIGINT) AS b_blocks,
           CAST(k AS BIGINT) AS k_treatments,
           CAST(l2 AS BIGINT) AS l2,
           (CAST(l2 AS DOUBLE) / 2.0
            - CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
              * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)
              / 2.0 / 2.0)
             / sqrt(CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
                    * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
                    * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                    / 144.0) AS z
    FROM agg, bb, kg
    """,
)
def page_trend_weekday_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test for a day-of-week effect on daily event
    volume (stats/inferential.py page_trend_test; Page, JASA 1963):
    complete ISO weeks are the blocks, ISO weekdays the ordered
    treatments, daily counts the responses — doubled average ranks
    keep L an exact integer; z uses the no-tie moments."""
    from gofast_spark.stats.inferential import page_trend_test

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    keyed = daily.select(
        (
            F.expr("extract(YEAROFWEEK FROM d)").cast("bigint")
            * F.lit(100)
            + F.weekofyear("d").cast("bigint")
        ).alias("b"),
        (F.weekday("d") + F.lit(1)).cast("int").alias("t"),
        "v",
    )
    return page_trend_test(keyed, "b", "t", "v")


@query(
    "dagostino_k2_acctbal",
    oracle="""
    WITH d AS (
      SELECT CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    s AS (SELECT avg(v) AS mu, stddev_pop(v) AS sd FROM d),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS n_int,
             CAST(sum(CAST(floor(((v - mu) / sd) * ((v - mu) / sd)
                  * ((v - mu) / sd) * 1000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) AS s3,
             CAST(sum(CAST(floor(((v - mu) / sd) * ((v - mu) / sd)
                  * ((v - mu) / sd) * ((v - mu) / sd) * 1000000.0
                  + 0.5) AS BIGINT)) AS DOUBLE) AS s4
      FROM d, s),
    g AS (
      SELECT n_int, n, s3 / 1000000.0 / n AS g1,
             s4 / 1000000.0 / n AS b2
      FROM m),
    t1 AS (
      SELECT *,
             g1 * sqrt(((n + 1.0) * (n + 3.0)) / (6.0 * (n - 2.0)))
               AS y,
             3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
               / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
               AS beta2
      FROM g),
    t2 AS (SELECT *, -1.0 + sqrt(2.0 * (beta2 - 1.0)) AS w2 FROM t1),
    t3 AS (
      SELECT *, 1.0 / sqrt(0.5 * ln(w2)) AS delta,
             sqrt(2.0 / (w2 - 1.0)) AS alpha
      FROM t2),
    t4 AS (
      SELECT *,
             delta * ln(y / alpha
                        + sqrt((y / alpha) * (y / alpha) + 1.0)) AS z1
      FROM t3),
    t5 AS (
      SELECT *, 3.0 * (n - 1.0) / (n + 1.0) AS eb2,
             24.0 * n * (n - 2.0) * (n - 3.0)
               / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)) AS vb2
      FROM t4),
    t6 AS (
      SELECT *, (b2 - eb2) / sqrt(vb2) AS x,
             6.0 * (n * n - 5.0 * n + 2.0)
               / ((n + 7.0) * (n + 9.0))
               * sqrt(6.0 * (n + 3.0) * (n + 5.0)
                      / (n * (n - 2.0) * (n - 3.0))) AS sb1
      FROM t5),
    t7 AS (
      SELECT *,
             6.0 + 8.0 / sb1
               * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS a
      FROM t6),
    t8 AS (
      SELECT *,
             ((1.0 - 2.0 / (9.0 * a))
              - (CASE WHEN (1.0 - 2.0 / a)
                           / (1.0 + x * sqrt(2.0 / (a - 4.0))) < 0
                      THEN -power(abs((1.0 - 2.0 / a)
                             / (1.0 + x * sqrt(2.0 / (a - 4.0)))),
                             1.0 / 3.0)
                      ELSE power(abs((1.0 - 2.0 / a)
                             / (1.0 + x * sqrt(2.0 / (a - 4.0)))),
                             1.0 / 3.0) END))
               / sqrt(2.0 / (9.0 * a)) AS z2
      FROM t7)
    SELECT CAST(n_int AS BIGINT) AS n,
           CAST(round(g1, 6) AS DOUBLE) AS g1,
           CAST(round(b2, 6) AS DOUBLE) AS b2,
           CAST(round(z1, 4) AS DOUBLE) AS z_skew,
           CAST(round(z2, 4) AS DOUBLE) AS z_kurt,
           CAST(round(z1 * z1 + z2 * z2, 4) AS DOUBLE) AS k2
    FROM t8
    """,
)
def dagostino_k2_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test over account
    balances (stats/distfit.py dagostino_k2; D'Agostino 1970, Anscombe
    & Glynn 1983, D'Agostino-Belanger-D'Agostino 1990; reference
    gofast/stats/evaluation.py:904 NormalityTests) — the moments-based
    member completing the KS/CvM/AD/SF normality family: one
    quantized z^3/z^4 pass, scalar transform chain replayed CTE by
    CTE with a signed-pow cube root."""
    from gofast_spark.stats.distfit import dagostino_k2

    return dagostino_k2(_t(spark, sf_dir, "customer"), "c_acctbal")


def _probit_oracle(n_iter: int = 3) -> str:
    """Layered Fisher-scoring replay for the probit fit: each
    iteration stores the clamped Phi(z) and the normal pdf once per
    row (value-identical to the Spark column expressions), aggregates
    the information/score moments, and applies the SAME fixed-order
    Cramer 2x2 update as ml.regression."""

    def phi_case(zexpr: str) -> str:
        zz = f"(({zexpr}) - 0.0) / 1.4142135623730951"
        t = f"1.0 / (1.0 + 0.3275911 * abs({zz}))"
        poly = (
            f"({t}) * (0.254829592 + ({t}) * (-0.284496736 + ({t})"
            f" * (1.421413741 + ({t}) * (-1.453152027 + ({t})"
            f" * 1.061405429))))"
        )
        pos = (
            f"0.5 * (1.0 + (1.0 - ({poly})"
            f" * exp(-abs({zz}) * abs({zz}))))"
        )
        return (
            f"CASE WHEN ({zz}) >= 0 THEN {pos}"
            f" ELSE 1.0 - ({pos}) END"
        )

    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,"
        " CAST(0.0 AS DOUBLE) AS w1)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        z = f"({prev}.w0 * 1.0 + {prev}.w1 * d.x)"
        layers.append(f"""r{k} AS (
      SELECT d.y, d.x,
             least(greatest({phi_case(z)}, 1e-10),
                   0.9999999999) AS p,
             exp(-0.5 * {z} * {z}) / sqrt(2.0 * pi()) AS ph
      FROM d, {prev})""")
        layers.append(f"""a{k} AS (
      SELECT sum(ph * ph / (p * (1.0 - p)) * 1.0 * 1.0) AS h00,
             sum(ph * ph / (p * (1.0 - p)) * 1.0 * x) AS h01,
             sum(ph * ph / (p * (1.0 - p)) * x * x) AS h11,
             sum((y - p) * (ph / (p * (1.0 - p))) * 1.0) AS g0,
             sum((y - p) * (ph / (p * (1.0 - p))) * x) AS g1,
             count(*) AS n
      FROM r{k})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1,
             a{k}.n AS n
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
    {cte}
    SELECT CAST(round(w0, 5) AS DOUBLE) AS w0,
           CAST(round(w1, 5) AS DOUBLE) AS w1,
           CAST(n AS BIGINT) AS n
    FROM {prev}
    """


@query("probit_orders", oracle=_probit_oracle(3))
def probit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probit regression of order finality on total price by Fisher
    scoring (ml/regression.py fit_probit_regression; Bliss 1935,
    McCullagh & Nelder 1989 ch. 4) — the Gaussian-link GLM beside the
    catalog's logistic/Poisson/negative-binomial fits, same design as
    logistic_newton_orders for link comparison: 3 scoring iterations,
    each ONE normal-weighted moment aggregation through the shared
    erf/pdf polynomials, Cramer 2x2 updates; the oracle replays every
    layer."""
    from gofast_spark.ml.regression import fit_probit_regression

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    ).where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    m = fit_probit_regression(d, "x", "y", n_iter=3)
    w = m["coef"]
    return spark.createDataFrame(
        [(round(w[0], 5), round(w[1], 5), m["n"])],
        "w0 double, w1 double, n bigint",
    )


@query(
    "dunn_test_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    ranked AS (
      SELECT g,
             2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2
      FROM d),
    per_g AS (
      SELECT g, count(*) AS n_g, sum(r2) AS sr2
      FROM ranked GROUP BY 1),
    ties AS (
      SELECT sum(t * t * t - t) AS tcorr, sum(t) AS nn
      FROM (SELECT count(*) AS t FROM d GROUP BY v)),
    m AS (SELECT g, n_g, sr2, tcorr, nn FROM per_g, ties)
    SELECT a.g AS g_a, b.g AS g_b,
           CAST(a.n_g AS BIGINT) AS n_a, CAST(b.n_g AS BIGINT) AS n_b,
           CAST(a.sr2 AS DOUBLE) / 2.0 / CAST(a.n_g AS DOUBLE)
             - CAST(b.sr2 AS DOUBLE) / 2.0 / CAST(b.n_g AS DOUBLE)
             AS mean_rank_diff,
           (CAST(a.sr2 AS DOUBLE) / 2.0 / CAST(a.n_g AS DOUBLE)
            - CAST(b.sr2 AS DOUBLE) / 2.0 / CAST(b.n_g AS DOUBLE))
             / sqrt((CAST(a.nn AS DOUBLE)
                     * (CAST(a.nn AS DOUBLE) + 1.0) / 12.0
                     - CAST(a.tcorr AS DOUBLE)
                       / (12.0 * (CAST(a.nn AS DOUBLE) - 1.0)))
                    * (1.0 / CAST(a.n_g AS DOUBLE)
                       + 1.0 / CAST(b.n_g AS DOUBLE))) AS z
    FROM m a JOIN m b ON a.g < b.g
    ORDER BY g_a, g_b
    """,
)
def dunn_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's tie-corrected post-hoc pairwise rank comparisons across
    event types (stats/inferential.py dunn_test; Dunn 1964) — the
    nonparametric counterpart of tukey_hsd_pairs_events, following the
    catalog's kruskal_wallis_events: doubled global average ranks keep
    every rank sum exact, z is one replayed expression per pair."""
    from gofast_spark.stats.inferential import dunn_test

    e = _t(spark, sf_dir, "events")
    return dunn_test(e, "value", "event_type")


@query(
    "kendall_w_weekday_events",
    oracle="""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS d FROM events WHERE ts IS NOT NULL),
    daily AS (SELECT d, count(*) AS v FROM e GROUP BY 1),
    keyed AS (
      SELECT CAST(isoyear(d) AS BIGINT) * 100
               + CAST(week(d) AS BIGINT) AS b,
             CAST(isodow(d) AS INT) AS t, CAST(v AS DOUBLE) AS v
      FROM daily),
    kg AS (SELECT count(DISTINCT t) AS k FROM keyed),
    ok AS (
      SELECT b FROM keyed GROUP BY b
      HAVING count(DISTINCT t) = (SELECT k FROM kg)),
    comp AS (SELECT keyed.* FROM keyed JOIN ok USING (b)),
    nbk AS (SELECT count(DISTINCT b) AS nb FROM comp),
    ranked AS (
      SELECT b, t,
             2 * rank() OVER (PARTITION BY b ORDER BY v)
               + count(*) OVER (PARTITION BY b, v) - 1 AS r2
      FROM comp),
    tc AS (
      SELECT coalesce(sum(tcc * tcc * tcc - tcc), 0) AS tsum
      FROM (SELECT count(*) AS tcc FROM comp GROUP BY b, v)),
    per_t AS (SELECT t, sum(r2) AS rr2 FROM ranked GROUP BY 1),
    s4c AS (
      SELECT sum((rr2 - (SELECT nb FROM nbk)
                    * ((SELECT k FROM kg) + 1))
                 * (rr2 - (SELECT nb FROM nbk)
                     * ((SELECT k FROM kg) + 1))) AS s4
      FROM per_t)
    SELECT CAST((SELECT nb FROM nbk) AS BIGINT) AS b_blocks,
           CAST((SELECT k FROM kg) AS BIGINT) AS k_treatments,
           CAST(s4 AS BIGINT) AS s4,
           3.0 * CAST(s4 AS DOUBLE)
             / CAST((SELECT nb FROM nbk) * (SELECT nb FROM nbk)
                    * (SELECT k FROM kg)
                    * ((SELECT k FROM kg) * (SELECT k FROM kg) - 1)
                    - (SELECT nb FROM nbk) * (SELECT tsum FROM tc)
               AS DOUBLE) AS w
    FROM s4c
    """,
)
def kendall_w_weekday_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance for the day-of-week effect
    on daily event volume (stats/inferential.py kendall_w; Kendall &
    Babington Smith 1939) — the [0, 1] effect size beside
    page_trend_weekday_events' directional L and friedman_events'
    chi-square: doubled within-block average ranks, tie-corrected
    denominator, W as one integer division."""
    from gofast_spark.stats.inferential import kendall_w

    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    keyed = daily.select(
        (
            F.expr("extract(YEAROFWEEK FROM d)").cast("bigint")
            * F.lit(100)
            + F.weekofyear("d").cast("bigint")
        ).alias("b"),
        (F.weekday("d") + F.lit(1)).cast("int").alias("t"),
        F.col("v").cast("double").alias("v"),
    )
    return kendall_w(keyed, "b", "t", "v")


@query(
    "ansari_bradley_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    ranked AS (
      SELECT g,
             2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2,
             count(*) OVER () AS nn
      FROM d),
    agg AS (
      SELECT sum(CASE WHEN g = 'click'
                      THEN least(r2, 2 * (nn + 1) - r2)
                      ELSE 0 END) AS ab2,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n_b,
             max(nn) AS nn
      FROM ranked)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ab2 AS BIGINT) AS ab2,
           CAST(round((CAST(ab2 AS DOUBLE) / 2.0
                 - CASE WHEN nn % 2 = 0
                        THEN CAST(n_a AS DOUBLE)
                             * (CAST(nn AS DOUBLE) + 2.0) / 4.0
                        ELSE CAST(n_a AS DOUBLE)
                             * (CAST(nn AS DOUBLE) + 1.0)
                             * (CAST(nn AS DOUBLE) + 1.0)
                             / (4.0 * CAST(nn AS DOUBLE)) END)
                / sqrt(CASE WHEN nn % 2 = 0
                       THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                            * (CAST(nn AS DOUBLE) + 2.0)
                            * (CAST(nn AS DOUBLE) - 2.0)
                            / (48.0 * (CAST(nn AS DOUBLE) - 1.0))
                       ELSE CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                            * (CAST(nn AS DOUBLE) + 1.0)
                            * (3.0 + CAST(nn AS DOUBLE)
                               * CAST(nn AS DOUBLE))
                            / (48.0 * CAST(nn AS DOUBLE)
                               * CAST(nn AS DOUBLE)) END), 6)
             AS DOUBLE) AS z
    FROM agg
    """,
)
def ansari_bradley_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test between click and purchase values
    (stats/inferential.py ansari_bradley; Ansari & Bradley 1960) —
    the rank-based dispersion comparison beside levene/bartlett:
    doubled both-ends midrank scores stay exact integers; classical
    even/odd no-tie moments for the normal approximation."""
    from gofast_spark.stats.inferential import ansari_bradley

    e = _t(spark, sf_dir, "events")
    return ansari_bradley(e, "value", "event_type", "click", "purchase")


def _spiegelhalter_oracle(n_iter: int = 3) -> str:
    """The _logit_oracle Newton layers, then the unbinned calibration
    Z over quantized per-row summands at the round-5 weights."""
    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,"
        " CAST(0.0 AS DOUBLE) AS w1)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        p = f"(1.0 / (1.0 + exp(-({prev}.w0 * 1.0 + {prev}.w1 * d.x))))"
        layers.append(f"""a{k} AS (
      SELECT sum({p} * (1.0 - {p}) * 1.0 * 1.0) AS h00,
             sum({p} * (1.0 - {p}) * 1.0 * d.x) AS h01,
             sum({p} * (1.0 - {p}) * d.x * d.x) AS h11,
             sum((d.y - {p}) * 1.0) AS g0,
             sum((d.y - {p}) * d.x) AS g1,
             count(*) AS n
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.w0 + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS w0,
             {prev}.w1 + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS w1,
             a{k}.n AS n
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y,
             CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
    {cte},
    scored AS (
      SELECT d.y,
             1.0 / (1.0 + exp(-(round({prev}.w0, 5)
                                + round({prev}.w1, 5) * d.x))) AS p
      FROM d, {prev}),
    agg AS (
      SELECT count(*) AS n,
             sum(CAST(floor((y - p) * (1.0 - 2.0 * p)
                  * 1000000000.0 + 0.5) AS BIGINT)) AS nu,
             sum(CAST(floor((1.0 - 2.0 * p) * (1.0 - 2.0 * p) * p
                  * (1.0 - p) * 1000000000.0 + 0.5) AS BIGINT)) AS de
      FROM scored)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(nu AS BIGINT) AS num_u9, CAST(de AS BIGINT) AS den_u9,
           CAST(nu AS DOUBLE) / 1000000000.0
             / sqrt(CAST(de AS DOUBLE) / 1000000000.0) AS z
    FROM agg
    """


@query("spiegelhalter_z_orders", oracle=_spiegelhalter_oracle(3))
def spiegelhalter_z_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's unbinned calibration Z for the Newton logistic
    fit of order finality (stats/evaluation.py spiegelhalter_z;
    Spiegelhalter 1986) — the binning-free companion of
    hosmer_lemeshow_orders: quantized per-row summands at the round-5
    weights; the oracle replays the whole trajectory."""
    from gofast_spark.ml import fit_logistic_regression
    from gofast_spark.stats.evaluation import spiegelhalter_z

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .cast("double").alias("y"),
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x"),
    ).where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    m = fit_logistic_regression(d, ["x"], "y", n_iter=3, solver="cramer")
    w0 = round(m["coef"][0], 5)
    w1 = round(m["coef"][1], 5)
    z = F.lit(w0) + F.lit(w1) * F.col("x")
    scored = d.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"), "y"
    )
    return spiegelhalter_z(scored, "p", "y")


@query(
    "lepage_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    ranked AS (
      SELECT g,
             2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2,
             count(*) OVER () AS nn
      FROM d),
    agg AS (
      SELECT sum(CASE WHEN g = 'click' THEN r2 ELSE 0 END) AS w2,
             sum(CASE WHEN g = 'click'
                      THEN least(r2, 2 * (nn + 1) - r2)
                      ELSE 0 END) AS ab2,
             sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n_b,
             max(nn) AS nn
      FROM ranked),
    tie AS (
      SELECT sum(t * t * t - t) AS tc
      FROM (SELECT count(*) AS t FROM d GROUP BY v)),
    zc AS (
      SELECT n_a, n_b,
             (CAST(w2 AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
                / 2.0)
               / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / 12.0
                      * ((CAST(nn AS DOUBLE) + 1.0)
                         - CAST(tc AS DOUBLE)
                           / (CAST(nn AS DOUBLE)
                              * (CAST(nn AS DOUBLE) - 1.0)))) AS z_w,
             (CAST(ab2 AS DOUBLE) / 2.0
              - CASE WHEN nn % 2 = 0
                     THEN CAST(n_a AS DOUBLE)
                          * (CAST(nn AS DOUBLE) + 2.0) / 4.0
                     ELSE CAST(n_a AS DOUBLE)
                          * (CAST(nn AS DOUBLE) + 1.0)
                          * (CAST(nn AS DOUBLE) + 1.0)
                          / (4.0 * CAST(nn AS DOUBLE)) END)
               / sqrt(CASE WHEN nn % 2 = 0
                      THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           * (CAST(nn AS DOUBLE) + 2.0)
                           * (CAST(nn AS DOUBLE) - 2.0)
                           / (48.0 * (CAST(nn AS DOUBLE) - 1.0))
                      ELSE CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           * (CAST(nn AS DOUBLE) + 1.0)
                           * (3.0 + CAST(nn AS DOUBLE)
                              * CAST(nn AS DOUBLE))
                           / (48.0 * CAST(nn AS DOUBLE)
                              * CAST(nn AS DOUBLE)) END) AS z_ab
      FROM agg, tie)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(round(z_w, 6) AS DOUBLE) AS z_wilcoxon,
           CAST(round(z_ab, 6) AS DOUBLE) AS z_ansari,
           CAST(round(z_w * z_w + z_ab * z_ab, 6) AS DOUBLE) AS d_stat
    FROM zc
    """,
)
def lepage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage location-or-scale two-sample test between click and
    purchase values (stats/inferential.py lepage_test; Lepage 1971) —
    the omnibus combining the tie-corrected Wilcoxon rank-sum z with
    ansari_bradley_events' scale z, chi-square(2) under H0; doubled
    midranks keep both components exact integers."""
    from gofast_spark.stats.inferential import lepage_test

    e = _t(spark, sf_dir, "events")
    return lepage_test(e, "value", "event_type", "click", "purchase")


_MI2D_ENTROPY = """
    s AS (
      SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
             max(CAST(l_extendedprice AS DOUBLE)) AS hi
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    d AS (
      SELECT CAST(l_quantity AS INT) AS x,
             least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE)
               - lo) / ((CASE WHEN hi - lo = 0 THEN 1.0
                         ELSE hi - lo END) / 20.0)) AS INT), 0), 19)
               AS y
      FROM lineitem, s
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    xy AS (SELECT x, y, count(*) AS n FROM d GROUP BY 1, 2),
    hxy AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM xy),
    hx AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM (SELECT x, sum(n) AS n FROM xy GROUP BY x)),
    hy AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM (SELECT y, sum(n) AS n FROM xy GROUP BY y)),
    e AS (
      SELECT CAST(hxy.n AS BIGINT) AS n,
             CAST(floor((ln(CAST(hx.n AS DOUBLE))
               - CAST(hx.s AS DOUBLE) / 1e6 / CAST(hx.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hx_u6,
             CAST(floor((ln(CAST(hy.n AS DOUBLE))
               - CAST(hy.s AS DOUBLE) / 1e6 / CAST(hy.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hy_u6,
             CAST(floor((ln(CAST(hxy.n AS DOUBLE))
               - CAST(hxy.s AS DOUBLE) / 1e6 / CAST(hxy.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hxy_u6
      FROM hxy, hx, hy)
"""


@query(
    "mi_quantity_price_binned",
    oracle=f"""
    WITH {_MI2D_ENTROPY}
    SELECT n, hx_u6, hy_u6, hxy_u6,
           hx_u6 + hy_u6 - hxy_u6 AS mi_u6
    FROM e
    """,
)
def mi_quantity_price_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between line quantity and 20-binned extended
    price (stats/infotheory.py entropy_report over deterministic
    min/max bin edges; Shannon 1948) — the continuous-pair MI via the
    binned plug-in estimator, extending mutual_info_events'
    categorical form: micro-unit-quantized n ln n summands make MI
    pure integer arithmetic."""
    from gofast_spark.quality.drift import _bin
    from gofast_spark.stats.infotheory import entropy_report

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    lo, hi = li.agg(
        F.min(F.col("l_extendedprice").cast("double")),
        F.max(F.col("l_extendedprice").cast("double")),
    ).first()
    lo, hi = float(lo), float(hi)
    width = ((hi - lo) or 1.0) / 20
    d = li.select(
        F.col("l_quantity").cast("int").alias("x"),
        _bin(
            F.col("l_extendedprice").cast("double"), lo, width, 20
        ).alias("y"),
    )
    return entropy_report(d, "x", "y").select(
        "n", "hx_u6", "hy_u6", "hxy_u6", "mi_u6"
    )


@query(
    "bhattacharyya_gaussian_events",
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    agg AS (
      SELECT sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN g = 'click'
                 THEN CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS sa,
             sum(CASE WHEN g = 'purchase'
                 THEN CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS sb,
             sum(CASE WHEN g = 'click'
                 THEN CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS qa,
             sum(CASE WHEN g = 'purchase'
                 THEN CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS qb
      FROM d),
    m AS (
      SELECT na, nb,
             CAST(sa AS DOUBLE) / 1000000.0 / CAST(na AS DOUBLE)
               AS mu_a,
             CAST(sb AS DOUBLE) / 1000000.0 / CAST(nb AS DOUBLE)
               AS mu_b,
             CAST(qa AS DOUBLE) / 1000000.0 / CAST(na AS DOUBLE)
               - (CAST(sa AS DOUBLE) / 1000000.0 / CAST(na AS DOUBLE))
                 * (CAST(sa AS DOUBLE) / 1000000.0
                    / CAST(na AS DOUBLE)) AS va,
             CAST(qb AS DOUBLE) / 1000000.0 / CAST(nb AS DOUBLE)
               - (CAST(sb AS DOUBLE) / 1000000.0 / CAST(nb AS DOUBLE))
                 * (CAST(sb AS DOUBLE) / 1000000.0
                    / CAST(nb AS DOUBLE)) AS vb
      FROM agg),
    f AS (
      SELECT na, nb,
             (mu_a - mu_b) * (mu_a - mu_b)
               / (8.0 * ((va + vb) / 2.0))
               + ln(((va + vb) / 2.0) / sqrt(va * vb)) / 2.0 AS db
      FROM m)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(round(db, 6) AS DOUBLE) AS db,
           CAST(floor(exp(-db) * 1000000000.0 + 0.5) AS BIGINT)
             AS bc_u9
    FROM f
    """,
)
def bhattacharyya_gaussian_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gaussian-model Bhattacharyya distance between click and
    purchase values (quality/drift.py bhattacharyya_gaussian;
    Bhattacharyya 1943, Kailath 1967) — the closed-form parametric
    companion of hellinger_by_type_events (H^2 = 1 - exp(-DB) under
    normality): micro-unit-exact per-group moments, round-6 DB,
    quantized coefficient."""
    from gofast_spark.quality.drift import bhattacharyya_gaussian

    e = _t(spark, sf_dir, "events")
    return bhattacharyya_gaussian(
        e, "value", "event_type", "click", "purchase"
    )


@query(
    "zip_moment_fit_user_events",
    oracle="""
    WITH per AS (
      SELECT user_id AS k, count(*) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    a AS (
      SELECT count(*) AS n, sum(c) AS s,
             sum(CAST(c AS HUGEINT) * c) AS q
      FROM per),
    m AS (
      SELECT CAST(n AS BIGINT) AS n_keys,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             (CAST(q AS DOUBLE) - CAST(n AS DOUBLE)
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
               / (CAST(n AS DOUBLE) - 1.0) AS variance
      FROM a)
    SELECT n_keys, mean, variance,
           (variance + mean * mean - mean) / mean AS lambda_hat,
           1.0 - mean / ((variance + mean * mean - mean) / mean)
             AS pi_hat
    FROM m
    """,
)
def zip_moment_fit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflated Poisson moment fit over per-user event counts
    (stats/causal.py zip_moment_fit; Lambert 1992) — the
    zero-inflation reading beside poisson_dispersion_user_events and
    negbin_fit_user_events: integer count moments, deterministic
    unrounded estimators."""
    from gofast_spark.stats.causal import zip_moment_fit

    e = _t(spark, sf_dir, "events")
    return zip_moment_fit(e, "user_id")


@query(
    "markov_entropy_events",
    oracle="""
    WITH seq AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS x,
             event_type AS y
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND user_id IS NOT NULL),
    d AS (SELECT x, y FROM seq WHERE x IS NOT NULL),
    xy AS (SELECT x, y, count(*) AS n FROM d GROUP BY 1, 2),
    hxy AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM xy),
    hx AS (
      SELECT sum(n) AS n,
             sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 * 1e6 + 0.5) AS BIGINT)) AS s
      FROM (SELECT x, sum(n) AS n FROM xy GROUP BY x)),
    e AS (
      SELECT CAST(hxy.n AS BIGINT) AS n,
             CAST(floor((ln(CAST(hx.n AS DOUBLE))
               - CAST(hx.s AS DOUBLE) / 1e6 / CAST(hx.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hx_u6,
             CAST(floor((ln(CAST(hxy.n AS DOUBLE))
               - CAST(hxy.s AS DOUBLE) / 1e6 / CAST(hxy.n AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS hxy_u6
      FROM hxy, hx)
    SELECT n, hx_u6, hxy_u6, hxy_u6 - hx_u6 AS h_cond_u6
    FROM e
    """,
)
def markov_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain —
    ``H(X_{t+1} | X_t) = H(X_t, X_{t+1}) - H(X_t)`` over consecutive
    -event bigrams (Shannon 1948; the information-theoretic reading of
    markov_transitions_events' transition matrix): one lag window +
    the shared entropy machinery, micro-unit integer arithmetic."""
    from gofast_spark.stats.infotheory import entropy_report
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        F.lag("event_type").over(w).alias("x"),
        F.col("event_type").alias("y"),
    ).where(F.col("x").isNotNull())
    return entropy_report(d, "x", "y").select(
        "n", "hx_u6", "hxy_u6",
        (F.col("hxy_u6") - F.col("hx_u6")).alias("h_cond_u6"),
    )


@query(
    "holm_bonferroni_events",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h1,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x3
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    g AS (
      SELECT event_type,
             sum(h1) AS n1, sum(1 - h1) AS n2,
             sum(CASE WHEN h1 = 1 THEN x3 ELSE 0 END) AS s1,
             sum(CASE WHEN h1 = 0 THEN x3 ELSE 0 END) AS s2,
             sum(CASE WHEN h1 = 1 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss1,
             sum(CASE WHEN h1 = 0 THEN CAST(x3 AS HUGEINT) * x3
                      ELSE 0 END) AS ss2
      FROM q GROUP BY event_type),
    zc AS (
      SELECT event_type,
             (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000.0
              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000.0)
             / sqrt(
                 (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) - 1.0) / 1000000.0
                   / CAST(n1 AS DOUBLE)
                 + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                    * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) - 1.0) / 1000000.0
                   / CAST(n2 AS DOUBLE)) AS z
      FROM g WHERE n1 >= 2 AND n2 >= 2),
    e AS (
      SELECT event_type, z, abs(z) / sqrt(2.0) AS x FROM zc),
    e2 AS (
      SELECT event_type, z, x,
             1.0 / (1.0 + 0.3275911 * x) AS t FROM e),
    pv AS (
      SELECT event_type, z,
             1.0 - (1.0 - (t * (0.254829592 + t * (-0.284496736
               + t * (1.421413741 + t * (-1.453152027
               + t * 1.061405429))))) * exp(-x * x)) AS p
      FROM e2),
    holm AS (
      SELECT event_type, z, p,
             row_number() OVER (ORDER BY p, event_type) AS rank,
             count(*) OVER () AS m
      FROM pv),
    adj AS (
      SELECT event_type, z, p, rank,
             max(least(1.0, p * CAST(m - rank + 1 AS DOUBLE)))
               OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS p_adj
      FROM holm)
    SELECT event_type,
           CAST(round(z, 6) AS DOUBLE) AS z,
           CAST(round(p, 6) AS DOUBLE) AS p,
           CAST(rank AS INT) AS rank,
           CAST(round(p_adj, 6) AS DOUBLE) AS p_adj,
           CAST(p_adj <= 0.05 AS INT) AS reject
    FROM adj
    """,
)
def holm_bonferroni_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down FWER correction over the same per-segment Welch
    family as fdr_bh_events (stats/multiple.py holm_bonferroni; Holm
    1979) — the family-wise companion of the BH step-up: running max
    of (m - j + 1) p_(j) over the rank window, everything on the
    hypothesis-sized frame."""
    from gofast_spark.stats.multiple import (
        holm_bonferroni,
        p_two_sided_from_z,
    )

    e = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    x3 = F.floor(
        F.col("value").cast("double") * 1e3 + F.lit(0.5)
    ).cast("bigint")
    h1 = F.col("ts") < "2024-01-16"
    g = e.groupBy("event_type").agg(
        F.sum(F.when(h1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~h1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(h1, x3).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(~h1, x3).otherwise(F.lit(0))).alias("s2"),
        F.sum(
            F.when(h1, x3.cast("decimal(19,0)") * x3).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ss1"),
        F.sum(
            F.when(~h1, x3.cast("decimal(19,0)") * x3).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ss2"),
    ).where((F.col("n1") >= 2) & (F.col("n2") >= 2))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1 = F.col("ss1").cast("double")
    ss2 = F.col("ss2").cast("double")
    v1 = (ss1 - s1 * s1 / n1) / (n1 - F.lit(1.0)) / F.lit(1e6)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - F.lit(1.0)) / F.lit(1e6)
    z = (s1 / n1 / F.lit(1e3) - s2 / n2 / F.lit(1e3)) / F.sqrt(
        v1 / n1 + v2 / n2
    )
    tests = g.select(
        "event_type", z.alias("z"), p_two_sided_from_z(z).alias("p")
    )
    out = holm_bonferroni(tests, "p", tiebreak_cols=["event_type"])
    return out.select(
        "event_type",
        F.round("z", 6).cast("double").alias("z"),
        F.round("p", 6).cast("double").alias("p"),
        F.col("rank").cast("int").alias("rank"),
        F.round("p_adj", 6).cast("double").alias("p_adj"),
        "reject",
    )


@query(
    "point_biserial_orders",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
    a AS (
      SELECT count(*) AS n, sum(y) AS n1,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CASE WHEN y = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxy
      FROM q)
    SELECT CAST(round(
             CAST(n * sxy - sx * n1 AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * n1 - CAST(n1 AS HUGEINT) * n1 AS DOUBLE)),
             6) AS DOUBLE) AS r_pb,
           CAST(n AS BIGINT) AS n,
           CAST(n1 AS BIGINT) AS n1
    FROM a
    """,
)
def point_biserial_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-biserial correlation between finished status and order
    value (stats/relationships.py point_biserial; Tate 1954) — one
    aggregate of integer cent/count moments, single closed-form double
    expression."""
    from gofast_spark.stats.relationships import point_biserial

    o = _t(spark, sf_dir, "orders")
    out = point_biserial(
        o, "o_totalprice", F.col("o_orderstatus") == "F"
    )
    return out.select(
        F.round("r_pb", 6).cast("double").alias("r_pb"), "n", "n1"
    )


@query(
    "rank_biserial_events",
    oracle="""
    WITH src AS (
      SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('purchase', 'view')),
    pv AS (
      SELECT v, CAST(count(*) AS DOUBLE) AS c, CAST(sum(ia) AS DOUBLE) AS ca
      FROM src GROUP BY v),
    r AS (
      SELECT c, ca,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS mr
      FROM pv),
    a AS (
      SELECT sum(ca * mr) AS ra, sum(ca) AS na, sum(c) AS n FROM r),
    u AS (
      SELECT ra - na * (na + 1) / 2.0 AS ua,
             na * (n - na) - (ra - na * (na + 1) / 2.0) AS ub,
             na, n - na AS nb
      FROM a)
    SELECT CAST(round((ua - ub) / (na * nb), 6) AS DOUBLE) AS r_rb,
           CAST(round(ua, 4) AS DOUBLE) AS u_a,
           CAST(round(ub, 4) AS DOUBLE) AS u_b,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM u
    """,
)
def rank_biserial_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial effect size of purchase vs view event values
    (stats/relationships.py rank_biserial; Cureton 1956, Wendt 1972)
    — (U_a - U_b)/(n_a n_b) on the mann_whitney_events midrank
    machinery, the U-test companion of cliffs_delta_events."""
    from gofast_spark.stats.relationships import rank_biserial

    e = _t(spark, sf_dir, "events")
    out = rank_biserial(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("r_rb", 6).cast("double").alias("r_rb"),
        F.round("u_a", 4).cast("double").alias("u_a"),
        F.round("u_b", 4).cast("double").alias("u_b"),
        "n_a",
        "n_b",
    )


@query(
    "odds_ratio_events",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS e,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    cells AS (
      SELECT sum(e * o) AS a, sum(e * (1 - o)) AS b,
             sum((1 - e) * o) AS c, sum((1 - e) * (1 - o)) AS d
      FROM q),
    adj AS (
      SELECT a, b, c, d,
             CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                  THEN 0.5 ELSE 0.0 END AS h
      FROM cells),
    m AS (
      SELECT a, b, c, d,
             CAST(a AS DOUBLE) + h AS af, CAST(b AS DOUBLE) + h AS bf,
             CAST(c AS DOUBLE) + h AS cf, CAST(d AS DOUBLE) + h AS df,
             CASE WHEN h > 0 THEN 1 ELSE 0 END AS corrected
      FROM adj),
    s AS (
      SELECT a, b, c, d, corrected,
             ln(af) + ln(df) - ln(bf) - ln(cf) AS log_or,
             sqrt(1.0/af + 1.0/bf + 1.0/cf + 1.0/df) AS se,
             (af / (af + bf)) / (cf / (cf + df)) AS rr
      FROM m)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(round(exp(log_or), 6) AS DOUBLE) AS odds_ratio,
           CAST(round(log_or, 6) AS DOUBLE) AS log_or,
           CAST(round(se, 6) AS DOUBLE) AS se_log_or,
           CAST(round(exp(log_or - 1.959964 * se), 6) AS DOUBLE) AS or_lo,
           CAST(round(exp(log_or + 1.959964 * se), 6) AS DOUBLE) AS or_hi,
           CAST(round(rr, 6) AS DOUBLE) AS risk_ratio,
           CAST(corrected AS INT) AS corrected
    FROM s
    """,
)
def odds_ratio_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds-ratio / risk-ratio report: early-window exposure vs
    purchase outcome (stats/inferential.py odds_ratio_2x2; Woolf 1955
    Wald log-CI, Haldane-Anscombe zero-cell correction) — one
    aggregate to four integer cells, closed-form doubles after."""
    from gofast_spark.stats.inferential import odds_ratio_2x2

    e = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    out = odds_ratio_2x2(
        e,
        F.col("ts") < "2024-01-16",
        F.col("event_type") == "purchase",
    )
    return out.select(
        "a", "b", "c", "d",
        F.round("odds_ratio", 6).cast("double").alias("odds_ratio"),
        F.round("log_or", 6).cast("double").alias("log_or"),
        F.round("se_log_or", 6).cast("double").alias("se_log_or"),
        F.round("or_lo", 6).cast("double").alias("or_lo"),
        F.round("or_hi", 6).cast("double").alias("or_hi"),
        F.round("risk_ratio", 6).cast("double").alias("risk_ratio"),
        "corrected",
    )


_FK_PPF = _ppf_sql("p")

_FK_ORACLE = f"""
    WITH base AS (
      SELECT event_type AS g,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    gx AS (SELECT g, x, count(*) AS c FROM base GROUP BY g, x),
    cum AS (
      SELECT g, x,
             sum(c) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             sum(c) OVER (PARTITION BY g) AS ng
      FROM gx),
    med AS (SELECT g, min(x) AS med FROM cum WHERE cm * 2 >= ng GROUP BY g),
    cent AS (
      SELECT b.g, abs(b.x - m.med) AS d
      FROM base b JOIN med m ON b.g = m.g),
    gd AS (SELECT g, d, count(*) AS c FROM cent GROUP BY g, d),
    dd AS (SELECT d, sum(c) AS cd FROM gd GROUP BY d),
    rk AS (
      SELECT d, cd,
             coalesce(sum(cd) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
               + cd + 1 AS r2,
             sum(cd) OVER () AS n
      FROM dd),
    pr AS (
      SELECT d, cd,
             0.5 + CAST(r2 AS DOUBLE)
               / (4.0 * (CAST(n AS DOUBLE) + 1.0)) AS p
      FROM rk),
    sc AS (
      SELECT d, cd,
             CAST(floor(({_FK_PPF}) * 1000000.0 + 0.5) AS BIGINT) AS a
      FROM pr),
    per AS (
      SELECT g, sum(CAST(c AS HUGEINT) * a) AS sg, sum(c) AS ng
      FROM gd JOIN sc USING (d) GROUP BY g),
    st AS (
      SELECT sum((CAST(sg AS HUGEINT) * sg) // ng) AS sq,
             sum(sg) AS s, sum(ng) AS n, count(*) AS k
      FROM per),
    ssx AS (SELECT sum(CAST(cd AS HUGEINT) * a * a) AS ss FROM sc)
    SELECT CAST(round(
             CAST(sq - (CAST(s AS HUGEINT) * s) // n AS DOUBLE)
             / (CAST(ss - (CAST(s AS HUGEINT) * s) // n AS DOUBLE)
                / (CAST(n AS DOUBLE) - 1.0)), 6) AS DOUBLE) AS fk_stat,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n
    FROM st, ssx
    """


@query("fligner_killeen_events", oracle=_FK_ORACLE)
def fligner_killeen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen homogeneity-of-variance test over event types
    (stats/inferential.py fligner_killeen; Fligner & Killeen 1976,
    Conover-Johnson-Johnson 1981) — the rank-based companion of
    levene_events/bartlett_events: lower-median centring by integer
    rank, pooled doubled midranks on the distinct-|d| grid, Acklam
    normal scores u6-quantized so every cross-row sum is integer."""
    from gofast_spark.stats.inferential import fligner_killeen

    e = _t(spark, sf_dir, "events")
    out = fligner_killeen(e, "value", "event_type")
    return out.select(
        F.round("fk_stat", 6).cast("double").alias("fk_stat"),
        "dof",
        "n_groups",
        "n",
    )


@query(
    "hhi_revenue_by_nation",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
             sum(CAST(floor(o.o_totalprice * 1000000.0 + 0.5)
               AS HUGEINT)) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_totalprice IS NOT NULL
      GROUP BY 1, 2),
    a AS (
      SELECT nk, sum(v * v) AS sq, sum(v) AS s, count(*) AS nm
      FROM rev GROUP BY nk)
    SELECT n.n_name AS nation,
           CAST(nm AS BIGINT) AS n_members,
           CAST(round(CAST(sq AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS DOUBLE)
             AS hhi,
           CAST(round(1.0 / (CAST(sq AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS DOUBLE)
             AS n_effective
    FROM a JOIN nation n ON a.nk = n.n_nationkey
    """,
)
def hhi_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of order revenue across
    customers within each nation (stats/descriptive.py
    herfindahl_index; Herfindahl 1950) — the market-concentration
    member of the Gini/Theil/Lorenz inequality family: one
    member-level groupBy, integer micro-unit moments, one division."""
    from gofast_spark.stats.descriptive import herfindahl_index

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    joined = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    out = herfindahl_index(
        joined, "o_totalprice", "o_custkey", ["nation"]
    )
    return out.select(
        "nation",
        "n_members",
        F.round("hhi", 6).cast("double").alias("hhi"),
        F.round("n_effective", 6).cast("double").alias("n_effective"),
    )


@query(
    "energy_distance_events",
    oracle="""
    WITH src AS (
      SELECT CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    pv AS (
      SELECT v, sum(ia) AS a, sum(1 - ia) AS b FROM src GROUP BY v),
    cum AS (
      SELECT sum(a) OVER w AS ca, sum(b) OVER w AS cb,
             lead(v) OVER (ORDER BY v) - v AS gap
      FROM pv
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (SELECT sum(ia) AS na, sum(1 - ia) AS nb FROM src),
    s AS (
      SELECT sum(CAST((CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                   * (CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                   AS HUGEINT) * gap) AS acc,
             max(na) AS na, max(nb) AS nb
      FROM cum, tot WHERE gap IS NOT NULL)
    SELECT CAST(round(2.0 * CAST(acc AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)
                * CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * 1000.0), 6)
             AS DOUBLE) AS d2_energy,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM s
    """,
)
def energy_distance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1D energy distance between purchase and view event values
    (stats/inferential.py energy_distance_1d; Szekely & Rizzo 2004)
    via the exact CDF-gap identity D^2 = 2 integral (F-G)^2 dt —
    integer ECDF products over the merged distinct-value grid, the L2
    companion of the KS/U tests."""
    from gofast_spark.stats.inferential import energy_distance_1d

    e = _t(spark, sf_dir, "events")
    out = energy_distance_1d(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("d2_energy", 6).cast("double").alias("d2_energy"),
        "n_a",
        "n_b",
    )


@query(
    "lift_deciles_orders",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
    span AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
    binned AS (
      SELECT CAST(floor(CAST((x - mn) * 10 AS DOUBLE)
               / CAST(mx - mn + 1 AS DOUBLE)) AS INT) AS bin, y
      FROM base, span),
    per AS (
      SELECT bin, count(*) AS n, sum(y) AS n_pos FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, n, n_pos,
             sum(n) OVER w AS cum_n, sum(n_pos) OVER w AS cum_pos,
             sum(n) OVER () AS tn, sum(n_pos) OVER () AS tp
      FROM per
      WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW))
    SELECT bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(round(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE), 6)
             AS DOUBLE) AS gain,
           CAST(round(CAST(CAST(cum_pos AS HUGEINT) * tn AS DOUBLE)
             / CAST(CAST(cum_n AS HUGEINT) * tp AS DOUBLE), 6) AS DOUBLE)
             AS lift
    FROM cum
    """,
)
def lift_deciles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gain/lift table of order value as a targeting score
    for finished status (stats/evaluation.py lift_table) — fixed-width
    integer bins (the Hosmer-Lemeshow cross-engine lesson), one
    cumulative window over the 10-bin frame, integer gain/lift
    ratios."""
    from gofast_spark.stats.evaluation import lift_table

    o = _t(spark, sf_dir, "orders")
    out = lift_table(o, "o_totalprice", F.col("o_orderstatus") == "F")
    return out.select(
        "bin", "n", "n_pos", "cum_n", "cum_pos",
        F.round("gain", 6).cast("double").alias("gain"),
        F.round("lift", 6).cast("double").alias("lift"),
    )


@query(
    "wilson_ci_events",
    oracle="""
    WITH a AS (
      SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS k,
             count(*) AS n
      FROM events WHERE event_type IS NOT NULL),
    m AS (
      SELECT k, n, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(n AS DOUBLE) AS nd
      FROM a),
    s AS (
      SELECT k, n, p, nd,
             1.0 + 1.959964 * 1.959964 / nd AS denom,
             (p + 1.959964 * 1.959964 / (2.0 * nd))
               / (1.0 + 1.959964 * 1.959964 / nd) AS center,
             1.959964 * sqrt(p * (1.0 - p) / nd
               + 1.959964 * 1.959964 / (4.0 * nd * nd))
               / (1.0 + 1.959964 * 1.959964 / nd) AS half,
             1.959964 * sqrt(p * (1.0 - p) / nd) AS wald_half
      FROM m)
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(round(p, 6) AS DOUBLE) AS p_hat,
           CAST(round(center - half, 6) AS DOUBLE) AS wilson_lo,
           CAST(round(center + half, 6) AS DOUBLE) AS wilson_hi,
           CAST(round(p - wald_half, 6) AS DOUBLE) AS wald_lo,
           CAST(round(p + wald_half, 6) AS DOUBLE) AS wald_hi
    FROM s
    """,
)
def wilson_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for the purchase share of events
    (stats/inferential.py wilson_interval; Wilson 1927, Brown-Cai
    -DasGupta 2001) beside the Wald bounds it dominates — one
    aggregate to (k, n), closed-form doubles."""
    from gofast_spark.stats.inferential import wilson_interval

    e = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    out = wilson_interval(e, F.col("event_type") == "purchase")
    return out.select(
        "k", "n",
        F.round("p_hat", 6).cast("double").alias("p_hat"),
        F.round("wilson_lo", 6).cast("double").alias("wilson_lo"),
        F.round("wilson_hi", 6).cast("double").alias("wilson_hi"),
        F.round("wald_lo", 6).cast("double").alias("wald_lo"),
        F.round("wald_hi", 6).cast("double").alias("wald_hi"),
    )


@query(
    "vif_lineitem",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT) AS x1,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x3
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    m AS (
      SELECT count(*) AS n,
             sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
             sum(CAST(x3 AS HUGEINT)) AS s3,
             sum(CAST(x1 AS HUGEINT) * x1) AS s11,
             sum(CAST(x2 AS HUGEINT) * x2) AS s22,
             sum(CAST(x3 AS HUGEINT) * x3) AS s33,
             sum(CAST(x1 AS HUGEINT) * x2) AS s12,
             sum(CAST(x1 AS HUGEINT) * x3) AS s13,
             sum(CAST(x2 AS HUGEINT) * x3) AS s23
      FROM base),
    r AS (
      SELECT n,
             CAST(n * s12 - s1 * s2 AS DOUBLE)
               / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE)
                      * CAST(n * s22 - s2 * s2 AS DOUBLE)) AS r12,
             CAST(n * s13 - s1 * s3 AS DOUBLE)
               / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE)
                      * CAST(n * s33 - s3 * s3 AS DOUBLE)) AS r13,
             CAST(n * s23 - s2 * s3 AS DOUBLE)
               / sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE)
                      * CAST(n * s33 - s3 * s3 AS DOUBLE)) AS r23
      FROM m),
    d AS (
      SELECT n, r12, r13, r23,
             1.0 + 2.0 * r12 * r13 * r23 - r12 * r12 - r13 * r13
               - r23 * r23 AS det
      FROM r)
    SELECT CAST(round(r12, 6) AS DOUBLE) AS r12,
           CAST(round(r13, 6) AS DOUBLE) AS r13,
           CAST(round(r23, 6) AS DOUBLE) AS r23,
           CAST(round(det, 6) AS DOUBLE) AS det_r,
           CAST(round((1.0 - r23 * r23) / det, 6) AS DOUBLE) AS vif_1,
           CAST(round((1.0 - r13 * r13) / det, 6) AS DOUBLE) AS vif_2,
           CAST(round((1.0 - r12 * r12) / det, 6) AS DOUBLE) AS vif_3,
           CAST(n AS BIGINT) AS n
    FROM d
    """,
)
def vif_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors of (quantity, extendedprice,
    discount) via the closed-form 3x3 correlation inverse
    (stats/relationships.py vif_three; Belsley-Kuh-Welsch 1980) —
    the multicollinearity screen beside corr_matrix_lineitem: one
    integer-moment aggregate, closed-form doubles."""
    from gofast_spark.stats.relationships import vif_three

    li = _t(spark, sf_dir, "lineitem")
    out = vif_three(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        quantize=(1, 100, 100),
    )
    return out.select(
        F.round("r12", 6).cast("double").alias("r12"),
        F.round("r13", 6).cast("double").alias("r13"),
        F.round("r23", 6).cast("double").alias("r23"),
        F.round("det_r", 6).cast("double").alias("det_r"),
        F.round("vif_1", 6).cast("double").alias("vif_1"),
        F.round("vif_2", 6).cast("double").alias("vif_2"),
        F.round("vif_3", 6).cast("double").alias("vif_3"),
        "n",
    )


@query(
    "jackknife_ratio_lineitem",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_quantity) AS BIGINT) AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
    tot AS (
      SELECT sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             count(*) AS n
      FROM base),
    r AS (
      SELECT CAST(floor(CAST(sx - x AS DOUBLE) / CAST(sy - y AS DOUBLE)
               * 1000.0) AS BIGINT) AS rq, n, sx, sy
      FROM base, tot),
    a AS (
      SELECT sum(CAST(rq AS HUGEINT)) AS sr,
             sum(CAST(rq AS HUGEINT) * rq) AS sr2,
             max(n) AS n, max(sx) AS sx, max(sy) AS sy
      FROM r)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) / 1000000.0,
             6) AS DOUBLE) AS theta_hat,
           CAST(round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
             / 1000000000.0, 6) AS DOUBLE) AS theta_jack,
           CAST(round(sqrt((CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
             * (CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE)
                * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) / 1e+18), 6)
             AS DOUBLE) AS se_jack,
           CAST(round((CAST(n AS DOUBLE) - 1.0)
             * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0
                - CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) / 1000000.0), 6)
             AS DOUBLE) AS bias_jack
    FROM a
    """,
)
def jackknife_ratio_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife variance/bias of price-per-quantity
    (stats/resampling.py jackknife_ratio; Quenouille 1956, Tukey
    1958) — closed-form leave-one-out replicates from one broadcast
    spine, u-quantized before summation so replicate sums are
    integer."""
    from gofast_spark.stats.resampling import jackknife_ratio

    li = _t(spark, sf_dir, "lineitem")
    out = jackknife_ratio(li, "l_extendedprice", "l_quantity")
    return out.select(
        "n",
        F.round("theta_hat", 6).cast("double").alias("theta_hat"),
        F.round("theta_jack", 6).cast("double").alias("theta_jack"),
        F.round("se_jack", 6).cast("double").alias("se_jack"),
        F.round("bias_jack", 6).cast("double").alias("bias_jack"),
    )


_QQ_PPF = _ppf_sql("p")

_QQ_ORACLE = f"""
    WITH base AS (
      SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS x
      FROM customer WHERE c_acctbal IS NOT NULL),
    mom AS (
      SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
             sum(CAST(x AS HUGEINT) * x) AS ss
      FROM base),
    grid AS (
      SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT x, count(*) AS c FROM base GROUP BY x)),
    probs AS (SELECT unnest(range(1, 10)) AS i),
    pj AS (
      SELECT i, n, s, ss,
             CAST((i * n + 9) - ((i * n + 9) % 10) AS DOUBLE) / 10
               AS r
      FROM probs, mom),
    emp AS (
      SELECT i, n, s, ss, min(x) AS q
      FROM grid JOIN pj ON grid.cum >= pj.r
      GROUP BY i, n, s, ss),
    t AS (
      SELECT p, q_emp,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
               + sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                       * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0) / 10000.0)
               * ({_QQ_PPF}) AS q_theo
      FROM (SELECT CAST(i AS DOUBLE) / 10.0 AS p,
                   CAST(q AS DOUBLE) / 100.0 AS q_emp, n, s, ss
            FROM emp))
    SELECT p, q_emp,
           CAST(round(q_theo, 6) AS DOUBLE) AS q_theo,
           CAST(round(q_emp - q_theo, 6) AS DOUBLE) AS diff
    FROM t
    """


@query("qq_normal_acctbal", oracle=_QQ_ORACLE)
def qq_normal_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal Q-Q table of customer account balances at interior
    deciles (stats/evaluation.py qq_normal_points) — integer-rank
    order statistics on the distinct-value grid against the
    moment-fitted normal through the shared Acklam quantile, the
    tabular companion of the KS/CvM/AD battery."""
    from gofast_spark.stats.evaluation import qq_normal_points

    c = _t(spark, sf_dir, "customer")
    out = qq_normal_points(c, "c_acctbal")
    return out.select(
        "p",
        "q_emp",
        F.round("q_theo", 6).cast("double").alias("q_theo"),
        F.round("diff", 6).cast("double").alias("diff"),
    )


@query(
    "cohens_h_events",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS g,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    a AS (
      SELECT sum(g * s) AS k1, sum(g) AS n1,
             sum((1 - g) * s) AS k2, sum(1 - g) AS n2
      FROM q),
    m AS (
      SELECT k1, n1, k2, n2,
             CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
             CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2
      FROM a)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(round(p1, 6) AS DOUBLE) AS p1,
           CAST(round(p2, 6) AS DOUBLE) AS p2,
           CAST(round(2.0 * asin(sqrt(p1)) - 2.0 * asin(sqrt(p2)), 6)
             AS DOUBLE) AS h
    FROM m
    """,
)
def cohens_h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h for the purchase share, early vs late window
    (stats/inferential.py cohens_h; Cohen 1988) — the arcsine
    effect-size companion of two_proportion_events."""
    from gofast_spark.stats.inferential import cohens_h

    e = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    out = cohens_h(
        e,
        F.col("ts") < "2024-01-16",
        F.col("event_type") == "purchase",
    )
    return out.select(
        "n1", "n2",
        F.round("p1", 6).cast("double").alias("p1"),
        F.round("p2", 6).cast("double").alias("p2"),
        F.round("h", 6).cast("double").alias("h"),
    )


_PAIRED_ORDER_SQL = """
      SELECT CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS a,
             li.b AS b
      FROM orders o
      JOIN (SELECT l_orderkey,
                   sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                     AS BIGINT)) AS b
            FROM lineitem GROUP BY l_orderkey) li
        ON o.o_orderkey = li.l_orderkey
      WHERE o.o_totalprice IS NOT NULL
"""


def _paired_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation pairs: the order header total vs the summed
    lineitem extended price, BOTH in integer cents (per-item
    quantization BEFORE the sum, so the pair is engine-exact — a
    per-order double sum would be partition-order dependent)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("bigint")
            ).alias("b")
        )
    )
    return o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("a"),
        "b",
    )


@query(
    "lin_ccc_orders",
    oracle=f"""
    WITH pairs AS ({_PAIRED_ORDER_SQL}),
    m AS (
      SELECT count(*) AS n,
             sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
             sum(CAST(a AS HUGEINT) * a) AS saa,
             sum(CAST(b AS HUGEINT) * b) AS sbb,
             sum(CAST(a AS HUGEINT) * b) AS sab
      FROM pairs),
    c AS (
      SELECT n,
             n * sab - sa * sb AS cov,
             n * saa - sa * sa AS va,
             n * sbb - sb * sb AS vb,
             (sa - sb) * (sa - sb) AS shift
      FROM m)
    SELECT CAST(round(2.0 * CAST(cov AS DOUBLE)
             / (CAST(va AS DOUBLE) + CAST(vb AS DOUBLE)
                + CAST(shift AS DOUBLE)), 6) AS DOUBLE) AS ccc,
           CAST(round(CAST(cov AS DOUBLE)
             / sqrt(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE)), 6)
             AS DOUBLE) AS r_pearson,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def lin_ccc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance between the order header total and the
    summed lineitem revenue (stats/evaluation.py lin_ccc; Lin 1989)
    — the agreement score of the reconciliation check, pure integer
    moments over cent pairs."""
    from gofast_spark.stats.evaluation import lin_ccc

    out = lin_ccc(_paired_orders(spark, sf_dir), "a", "b", quantize=1)
    return out.select(
        F.round("ccc", 6).cast("double").alias("ccc"),
        F.round("r_pearson", 6).cast("double").alias("r_pearson"),
        "n",
    )


@query(
    "bland_altman_orders",
    oracle=f"""
    WITH pairs AS ({_PAIRED_ORDER_SQL}),
    d AS (SELECT a - b AS dd FROM pairs),
    m AS (
      SELECT count(*) AS n, sum(CAST(dd AS HUGEINT)) AS s,
             sum(CAST(dd AS HUGEINT) * dd) AS ss
      FROM d),
    c AS (
      SELECT n,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1.0 AS mean,
             sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0)) / 1.0 AS sd
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(mean, 6) AS DOUBLE) AS mean_diff_cents,
           CAST(round(sd, 6) AS DOUBLE) AS sd_diff_cents,
           CAST(round(mean - 1.959964 * sd, 6) AS DOUBLE) AS loa_lo,
           CAST(round(mean + 1.959964 * sd, 6) AS DOUBLE) AS loa_hi
    FROM c
    """,
)
def bland_altman_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman limits of agreement for the header-vs-lineitems
    order total reconciliation (stats/evaluation.py bland_altman;
    Bland & Altman 1986) — bias and 95% limits in cents from one
    integer-moment aggregate."""
    from gofast_spark.stats.evaluation import bland_altman

    out = bland_altman(
        _paired_orders(spark, sf_dir), "a", "b", quantize=1
    )
    return out.select(
        "n",
        F.round("mean_diff", 6).cast("double").alias("mean_diff_cents"),
        F.round("sd_diff", 6).cast("double").alias("sd_diff_cents"),
        F.round("loa_lo", 6).cast("double").alias("loa_lo"),
        F.round("loa_hi", 6).cast("double").alias("loa_hi"),
    )


_RM_ORACLE = """
    WITH base AS (
      SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS x
      FROM customer WHERE c_acctbal IS NOT NULL),
    nrow AS (SELECT count(*) AS n FROM base),
    grid AS (
      SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT x, count(*) AS c FROM base GROUP BY x)),
    octs AS (SELECT unnest(range(1, 8)) AS i),
    pj AS (
      SELECT i, n,
             ((i * n + 7) - ((i * n + 7) % 8)) / 8 AS r
      FROM octs, nrow),
    emp AS (
      SELECT i, n, min(x) AS q
      FROM grid JOIN pj ON grid.cum >= pj.r
      GROUP BY i, n),
    piv AS (
      SELECT n,
             max(CASE WHEN i = 1 THEN q END) AS e1,
             max(CASE WHEN i = 2 THEN q END) AS e2,
             max(CASE WHEN i = 3 THEN q END) AS e3,
             max(CASE WHEN i = 4 THEN q END) AS e4,
             max(CASE WHEN i = 5 THEN q END) AS e5,
             max(CASE WHEN i = 6 THEN q END) AS e6,
             max(CASE WHEN i = 7 THEN q END) AS e7
      FROM emp GROUP BY n)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(e2 AS DOUBLE) / 100.0 AS q1,
           CAST(e4 AS DOUBLE) / 100.0 AS median,
           CAST(e6 AS DOUBLE) / 100.0 AS q3,
           CASE WHEN e6 > e2 THEN CAST(round(
             (CAST(e6 AS DOUBLE) + CAST(e2 AS DOUBLE)
              - 2.0 * CAST(e4 AS DOUBLE))
             / (CAST(e6 AS DOUBLE) - CAST(e2 AS DOUBLE)), 6) AS DOUBLE)
           END AS bowley_skew,
           CASE WHEN e6 > e2 THEN CAST(round(
             ((CAST(e7 AS DOUBLE) - CAST(e5 AS DOUBLE))
              + (CAST(e3 AS DOUBLE) - CAST(e1 AS DOUBLE)))
             / (CAST(e6 AS DOUBLE) - CAST(e2 AS DOUBLE)), 6) AS DOUBLE)
           END AS moors_kurtosis
    FROM piv
    """


@query("robust_moments_acctbal", oracle=_RM_ORACLE)
def robust_moments_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley quartile skewness + Moors octile kurtosis of customer
    balances (stats/descriptive.py robust_quantile_moments; Bowley
    1920, Moors 1988) — outlier-immune shape stats from integer-rank
    octiles on the distinct-value grid."""
    from gofast_spark.stats.descriptive import robust_quantile_moments

    c = _t(spark, sf_dir, "customer")
    out = robust_quantile_moments(c, "c_acctbal")
    return out.select(
        "n", "q1", "median", "q3",
        F.round("bowley_skew", 6).cast("double").alias("bowley_skew"),
        F.round("moors_kurtosis", 6).cast("double").alias(
            "moors_kurtosis"
        ),
    )


@query(
    "cmh_orders",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority AS k,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS e,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
        AND o_orderpriority IS NOT NULL),
    per AS (
      SELECT k,
             sum(e * o) AS a, sum(e * (1 - o)) AS b,
             sum((1 - e) * o) AS c, sum((1 - e) * (1 - o)) AS d
      FROM q GROUP BY k),
    t AS (
      SELECT a,
             CAST(floor((CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c)
               / (CAST(a AS DOUBLE) + b + c + d) * 1000000.0) AS BIGINT)
               AS e_u6,
             CAST(floor((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
               * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d)
               / ((CAST(a AS DOUBLE) + b + c + d)
                  * (CAST(a AS DOUBLE) + b + c + d)
                  * (CAST(a AS DOUBLE) + b + c + d - 1.0))
               * 1000000.0) AS BIGINT) AS v_u6,
             CAST(floor(CAST(a AS DOUBLE) * d
               / (CAST(a AS DOUBLE) + b + c + d) * 1000000.0) AS BIGINT)
               AS r_u6,
             CAST(floor(CAST(b AS DOUBLE) * c
               / (CAST(a AS DOUBLE) + b + c + d) * 1000000.0) AS BIGINT)
               AS s_u6,
             a + b + c + d AS n_k
      FROM per WHERE a + b + c + d > 1),
    g AS (
      SELECT sum(a) AS sum_a, sum(e_u6) AS sum_e, sum(v_u6) AS sum_v,
             sum(r_u6) AS sum_r, sum(s_u6) AS sum_s,
             count(*) AS k, sum(n_k) AS n
      FROM t)
    SELECT CAST(round(
             greatest(abs(CAST(sum_a AS DOUBLE)
                          - CAST(sum_e AS DOUBLE) / 1000000.0) - 0.5, 0.0)
             * greatest(abs(CAST(sum_a AS DOUBLE)
                            - CAST(sum_e AS DOUBLE) / 1000000.0) - 0.5, 0.0)
             / (CAST(sum_v AS DOUBLE) / 1000000.0), 6) AS DOUBLE)
             AS cmh_stat,
           CASE WHEN sum_s > 0 THEN CAST(round(
             CAST(sum_r AS DOUBLE) / CAST(sum_s AS DOUBLE), 6) AS DOUBLE)
           END AS or_mh,
           CAST(sum_a AS BIGINT) AS sum_a,
           CAST(round(CAST(sum_e AS DOUBLE) / 1000000.0, 6) AS DOUBLE)
             AS sum_e,
           CAST(k AS BIGINT) AS n_strata,
           CAST(n AS BIGINT) AS n
    FROM g
    """,
)
def cmh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel association of early-window exposure
    with finished status, stratified by order priority
    (stats/inferential.py cochran_mantel_haenszel; Cochran 1954,
    Mantel & Haenszel 1959) — the confounder-adjusted companion of
    odds_ratio_events: per-stratum integer cells, u6-quantized
    stratum terms, integer cross-stratum combine."""
    from gofast_spark.stats.inferential import cochran_mantel_haenszel

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    out = cochran_mantel_haenszel(
        o,
        "o_orderpriority",
        F.col("o_orderdate") < "1998-01-01",
        F.col("o_orderstatus") == "F",
    )
    return out.select(
        F.round("cmh_stat", 6).cast("double").alias("cmh_stat"),
        F.round("or_mh", 6).cast("double").alias("or_mh"),
        "sum_a",
        F.round("sum_e", 6).cast("double").alias("sum_e"),
        "n_strata",
        "n",
    )


@query(
    "wilson_ci_by_type_events",
    oracle="""
    WITH a AS (
      SELECT event_type,
             sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS k,
             count(*) AS n
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type),
    m AS (
      SELECT event_type, k, n,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(n AS DOUBLE) AS nd
      FROM a)
    SELECT event_type, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(round(p, 6) AS DOUBLE) AS p_hat,
           CAST(round((p + 1.959964 * 1.959964 / (2.0 * nd))
                 / (1.0 + 1.959964 * 1.959964 / nd)
               - 1.959964 * sqrt(p * (1.0 - p) / nd
                 + 1.959964 * 1.959964 / (4.0 * nd * nd))
                 / (1.0 + 1.959964 * 1.959964 / nd), 6) AS DOUBLE)
             AS wilson_lo,
           CAST(round((p + 1.959964 * 1.959964 / (2.0 * nd))
                 / (1.0 + 1.959964 * 1.959964 / nd)
               + 1.959964 * sqrt(p * (1.0 - p) / nd
                 + 1.959964 * 1.959964 / (4.0 * nd * nd))
                 / (1.0 + 1.959964 * 1.959964 / nd), 6) AS DOUBLE)
             AS wilson_hi
    FROM m
    """,
)
def wilson_ci_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Wilson interval for the share of high-value
    events (stats/inferential.py wilson_interval_by_group) — the
    per-segment proportion readout beside the pooled
    wilson_ci_events."""
    from gofast_spark.stats.inferential import wilson_interval_by_group

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    out = wilson_interval_by_group(
        e, "event_type", F.col("value") > 50.0
    )
    return out.select(
        "event_type", "k", "n",
        F.round("p_hat", 6).cast("double").alias("p_hat"),
        F.round("wilson_lo", 6).cast("double").alias("wilson_lo"),
        F.round("wilson_hi", 6).cast("double").alias("wilson_hi"),
    )


@query(
    "odds_ratio_by_priority_orders",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority AS k,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS e,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
        AND o_orderpriority IS NOT NULL),
    cells AS (
      SELECT k,
             sum(e * o) AS a, sum(e * (1 - o)) AS b,
             sum((1 - e) * o) AS c, sum((1 - e) * (1 - o)) AS d
      FROM q GROUP BY k),
    adj AS (
      SELECT k, a, b, c, d,
             CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                  THEN 0.5 ELSE 0.0 END AS h
      FROM cells),
    m AS (
      SELECT k, a, b, c, d,
             CAST(a AS DOUBLE) + h AS af, CAST(b AS DOUBLE) + h AS bf,
             CAST(c AS DOUBLE) + h AS cf, CAST(d AS DOUBLE) + h AS df,
             CASE WHEN h > 0 THEN 1 ELSE 0 END AS corrected
      FROM adj),
    s AS (
      SELECT k, a, b, c, d, corrected,
             ln(af) + ln(df) - ln(bf) - ln(cf) AS log_or,
             sqrt(1.0/af + 1.0/bf + 1.0/cf + 1.0/df) AS se
      FROM m)
    SELECT k AS o_orderpriority,
           CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(round(exp(log_or), 6) AS DOUBLE) AS odds_ratio,
           CAST(round(exp(log_or - 1.959964 * se), 6) AS DOUBLE) AS or_lo,
           CAST(round(exp(log_or + 1.959964 * se), 6) AS DOUBLE) AS or_hi,
           CAST(corrected AS INT) AS corrected
    FROM s
    """,
)
def odds_ratio_by_priority_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority odds ratios for the same exposure/outcome
    cmh_orders pools (stats/inferential.py odds_ratio_by_group) —
    the stratum table read beside the pooled MH estimate."""
    from gofast_spark.stats.inferential import odds_ratio_by_group

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    out = odds_ratio_by_group(
        o,
        "o_orderpriority",
        F.col("o_orderdate") < "1998-01-01",
        F.col("o_orderstatus") == "F",
    )
    return out.select(
        "o_orderpriority", "a", "b", "c", "d",
        F.round("odds_ratio", 6).cast("double").alias("odds_ratio"),
        F.round("or_lo", 6).cast("double").alias("or_lo"),
        F.round("or_hi", 6).cast("double").alias("or_hi"),
        "corrected",
    )


@query(
    "breslow_day_orders",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority AS k,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS e,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
        AND o_orderpriority IS NOT NULL),
    per AS (
      SELECT k,
             sum(e * o) AS a, sum(e * (1 - o)) AS b,
             sum((1 - e) * o) AS c, sum((1 - e) * (1 - o)) AS d
      FROM q GROUP BY k),
    mh AS (
      SELECT sum(CAST(floor(CAST(a AS DOUBLE) * d
               / (CAST(a AS DOUBLE) + b + c + d) * 1000000.0) AS BIGINT))
               AS sum_r,
             sum(CAST(floor(CAST(b AS DOUBLE) * c
               / (CAST(a AS DOUBLE) + b + c + d) * 1000000.0) AS BIGINT))
               AS sum_s
      FROM per WHERE a + b + c + d > 1),
    j AS (
      SELECT per.*, CAST(sum_r AS DOUBLE) / CAST(sum_s AS DOUBLE) AS psi
      FROM per, mh),
    fit AS (
      SELECT a, b, c, d, psi,
             CAST(a AS DOUBLE) + b + c + d AS n,
             psi - 1.0 AS qa,
             -(psi * ((CAST(a AS DOUBLE) + b) + (CAST(a AS DOUBLE) + c))
               + ((CAST(c AS DOUBLE) + d) - (CAST(a AS DOUBLE) + c)))
               AS qb,
             psi * (CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c)
               AS qc
      FROM j),
    root AS (
      SELECT a, b, c, d, psi, n,
             CASE WHEN abs(qa) < 1e-12
                  THEN (CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c) / n
                  ELSE (-qb - sqrt(qb * qb - 4.0 * qa * qc)) / (2.0 * qa)
             END AS at
      FROM fit),
    cellfit AS (
      SELECT a, b, c, d, psi, n, at,
             (CAST(a AS DOUBLE) + b) - at AS bt,
             (CAST(a AS DOUBLE) + c) - at AS ct,
             (CAST(c AS DOUBLE) + d) - ((CAST(a AS DOUBLE) + c) - at) AS dt
      FROM root),
    v AS (
      SELECT a, b, c, d, psi, n, at,
             1.0 / (1.0 / at + 1.0 / bt + 1.0 / ct + 1.0 / dt) AS var
      FROM cellfit),
    terms AS (
      SELECT CAST(floor((CAST(a AS DOUBLE) - at) * 1000000.0) AS BIGINT)
               AS dev_u6,
             CAST(floor((CAST(a AS DOUBLE) - at) * (CAST(a AS DOUBLE) - at)
               / var * 1000000.0) AS BIGINT) AS chi_u6,
             CAST(floor(var * 1000000.0) AS BIGINT) AS var_u6,
             CAST(n AS BIGINT) AS n_k, psi
      FROM v WHERE n > 1 AND a > 0 AND b > 0 AND c > 0 AND d > 0),
    g AS (
      SELECT sum(chi_u6) AS s_chi, sum(dev_u6) AS s_dev,
             sum(var_u6) AS s_var, count(*) AS k, sum(n_k) AS n,
             max(psi) AS psi
      FROM terms)
    SELECT CAST(round(CAST(s_chi AS DOUBLE) / 1000000.0
             - (CAST(s_dev AS DOUBLE) / 1000000.0)
               * (CAST(s_dev AS DOUBLE) / 1000000.0)
               / (CAST(s_var AS DOUBLE) / 1000000.0), 6) AS DOUBLE)
             AS bd_stat,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(round(psi, 6) AS DOUBLE) AS psi_mh,
           CAST(k AS BIGINT) AS n_strata,
           CAST(n AS BIGINT) AS n
    FROM g
    """,
)
def breslow_day_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day-Tarone homogeneity of the per-priority odds ratios
    (stats/inferential.py breslow_day; Breslow & Day 1980, Tarone
    1985) — the pooling pre-condition for cmh_orders: margin
    -preserving quadratic roots per stratum, u6-quantized stratum
    terms, integer combine."""
    from gofast_spark.stats.inferential import breslow_day

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    out = breslow_day(
        o,
        "o_orderpriority",
        F.col("o_orderdate") < "1998-01-01",
        F.col("o_orderstatus") == "F",
    )
    return out.select(
        F.round("bd_stat", 6).cast("double").alias("bd_stat"),
        "dof",
        F.round("psi_mh", 6).cast("double").alias("psi_mh"),
        "n_strata",
        "n",
    )


@query(
    "cvm_2samp_events",
    oracle="""
    WITH src AS (
      SELECT CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    pv AS (
      SELECT v, sum(ia) AS a, sum(1 - ia) AS b FROM src GROUP BY v),
    cum AS (
      SELECT a + b AS cnt,
             sum(a) OVER w AS ca, sum(b) OVER w AS cb
      FROM pv
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (SELECT sum(ia) AS na, sum(1 - ia) AS nb FROM src),
    s AS (
      SELECT sum(CAST((CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                   * (CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                   AS HUGEINT) * cnt) AS acc,
             max(na) AS na, max(nb) AS nb
      FROM cum, tot)
    SELECT CAST(round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             * CAST(acc AS DOUBLE)
             / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                * CAST(na AS DOUBLE) * CAST(na AS DOUBLE)
                * CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
             AS DOUBLE) AS t_cvm,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM s
    """,
)
def cvm_2samp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises criterion, purchase vs view values
    (stats/inferential.py cvm_two_sample; Anderson 1962) — the
    quadratic-ECDF companion of the KS/energy pair, integer
    count-weighted gap products over the merged grid."""
    from gofast_spark.stats.inferential import cvm_two_sample

    e = _t(spark, sf_dir, "events")
    out = cvm_two_sample(e, "value", "event_type", "purchase", "view")
    return out.select(
        F.round("t_cvm", 6).cast("double").alias("t_cvm"),
        "n_a",
        "n_b",
    )


@query(
    "ancova_events",
    oracle="""
    WITH base AS (
      SELECT event_type AS g,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS y,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    per AS (
      SELECT g, count(*) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM base GROUP BY g),
    t AS (
      SELECT n, sx, sy, sxx, sxy, syy,
             CAST(floor(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               AS BIGINT) AS exx_q,
             CAST(floor(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               AS BIGINT) AS exy_q,
             CAST(floor(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               AS BIGINT) AS eyy_q
      FROM per),
    a AS (
      SELECT sum(exx_q) AS exx, sum(exy_q) AS exy, sum(eyy_q) AS eyy,
             sum(n) AS nn, sum(sx) AS tsx, sum(sy) AS tsy,
             sum(sxx) AS tsxx, sum(sxy) AS tsxy, sum(syy) AS tsyy,
             count(*) AS k
      FROM t),
    m AS (
      SELECT CAST(exx AS DOUBLE) AS exx,
             CAST(exy AS DOUBLE) AS exy,
             CAST(eyy AS DOUBLE) AS eyy,
             CAST(nn AS DOUBLE) AS nn,
             CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE)
               * CAST(tsx AS DOUBLE) / CAST(nn AS DOUBLE) AS txx,
             CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE)
               * CAST(tsy AS DOUBLE) / CAST(nn AS DOUBLE) AS txy,
             CAST(tsyy AS DOUBLE) - CAST(tsy AS DOUBLE)
               * CAST(tsy AS DOUBLE) / CAST(nn AS DOUBLE) AS tyy,
             CAST(k AS DOUBLE) AS kd, k, nn AS n_rows
      FROM a),
    f AS (
      SELECT ((tyy - txy * txy / txx) - (eyy - exy * exy / exx))
               / (kd - 1.0)
               / ((eyy - exy * exy / exx) / (nn - kd - 1.0)) AS f_stat,
             exy / exx * (1.0 / 1000.0) AS slope_within,
             k, n_rows, nn
      FROM m)
    SELECT CAST(round(f_stat, 6) AS DOUBLE) AS f_stat,
           CAST(k - 1 AS BIGINT) AS dof_between,
           CAST(n_rows - k - 1 AS BIGINT) AS dof_within,
           CAST(round(slope_within, 6) AS DOUBLE) AS slope_within,
           CAST(k AS BIGINT) AS k,
           CAST(n_rows AS BIGINT) AS n
    FROM f
    """,
)
def ancova_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANCOVA of event value by type, adjusted for the day
    index (stats/inferential.py ancova_oneway; Fisher 1932) — the
    covariate-adjusted group F beside anova_events/welch_anova:
    per-group integer moments, u6-quantized corrected terms, one
    cross-group integer combine."""
    from gofast_spark.stats.inferential import ancova_oneway

    e = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            "value",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("bigint")
            .alias("t"),
        )
    )
    out = ancova_oneway(e, "value", "t", "event_type")
    return out.select(
        F.round("f_stat", 6).cast("double").alias("f_stat"),
        "dof_between",
        "dof_within",
        F.round("slope_within", 6).cast("double").alias("slope_within"),
        "k",
        "n",
    )


@query(
    "design_effect_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS h,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    per AS (
      SELECT h, count(*) AS nh, sum(CAST(x AS HUGEINT)) AS sh,
             sum(CAST(x AS HUGEINT) * x) AS ssh
      FROM base GROUP BY h),
    t AS (
      SELECT nh, sh, ssh,
             CAST(floor(CAST(nh AS DOUBLE)
               * ((CAST(ssh AS DOUBLE) - CAST(sh AS DOUBLE)
                   * CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE))
                  / (CAST(nh AS DOUBLE) - 1.0))) AS BIGINT) AS wv_q,
             CAST(floor(CAST(nh AS DOUBLE)
               * sqrt((CAST(ssh AS DOUBLE) - CAST(sh AS DOUBLE)
                   * CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE))
                  / (CAST(nh AS DOUBLE) - 1.0)) * 1000000.0) AS BIGINT)
               AS ws_u6
      FROM per WHERE nh > 1),
    a AS (
      SELECT sum(wv_q) AS swv, sum(ws_u6) AS sws, sum(nh) AS n,
             sum(sh) AS s, sum(ssh) AS ss, count(*) AS k
      FROM t),
    m AS (
      SELECT swv, sws, n, k,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
               AS var_all
      FROM a)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS n_strata,
           CAST(round(CAST(swv AS DOUBLE) / CAST(n AS DOUBLE) / var_all,
             6) AS DOUBLE) AS deff_prop,
           CAST(round((CAST(sws AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
             * (CAST(sws AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
             / var_all, 6) AS DOUBLE) AS deff_neyman,
           CAST(round(sqrt(var_all) / 100.0, 6) AS DOUBLE) AS sd_overall
    FROM m
    """,
)
def design_effect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish design effects of priority-stratified sampling for the
    order-value mean (stats/descriptive.py design_effect_stratified;
    Kish 1965, Cochran 1977) — how much proportional and Neyman
    allocation beat SRS; the payoff readout beside
    neyman_sample_orders.  Per-stratum integer moments, quantized
    stratum terms, integer combine."""
    from gofast_spark.stats.descriptive import design_effect_stratified

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    out = design_effect_stratified(o, "o_totalprice", "o_orderpriority")
    return out.select(
        "n", "n_strata",
        F.round("deff_prop", 6).cast("double").alias("deff_prop"),
        F.round("deff_neyman", 6).cast("double").alias("deff_neyman"),
        F.round("sd_overall", 6).cast("double").alias("sd_overall"),
    )


@query(
    "capture_recapture_users_events",
    oracle="""
    WITH per AS (
      SELECT user_id,
             max(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
               AS a,
             max(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
               AS b
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id),
    g AS (
      SELECT sum(a) AS n1, sum(b) AS n2, sum(a * b) AS m FROM per)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(m AS BIGINT) AS m,
           CAST(round((CAST(n1 AS DOUBLE) + 1.0)
             * (CAST(n2 AS DOUBLE) + 1.0)
             / (CAST(m AS DOUBLE) + 1.0) - 1.0, 6) AS DOUBLE) AS n_hat,
           CAST(round(sqrt((CAST(n1 AS DOUBLE) + 1.0)
             * (CAST(n2 AS DOUBLE) + 1.0)
             * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
             * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
             / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)
                * (CAST(m AS DOUBLE) + 2.0))), 6) AS DOUBLE) AS se
    FROM g
    """,
)
def capture_recapture_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of the total user population
    from the early/late event windows (stats/descriptive.py
    capture_recapture; Chapman 1951) — the crawl/audience-coverage
    estimator beside the KMV/HLL distinct sketches: one
    groupBy(user) to presence flags, closed-form estimate + SE."""
    from gofast_spark.stats.descriptive import capture_recapture

    e = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    out = capture_recapture(
        e,
        "user_id",
        F.col("ts") < "2024-01-16",
        F.col("ts") >= "2024-01-16",
    )
    return out.select(
        "n1", "n2", "m",
        F.round("n_hat", 6).cast("double").alias("n_hat"),
        F.round("se", 6).cast("double").alias("se"),
    )


@query(
    "atkinson_orders",
    oracle="""
    WITH pos AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_totalprice > 0),
    a AS (
      SELECT count(*) AS n,
             sum(CAST(floor(ln(v) * 1000000.0) AS HUGEINT)) AS sln,
             sum(CAST(floor(v * 1000000.0 + 0.5) AS HUGEINT)) AS s
      FROM pos)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(1.0 - exp(CAST(sln AS DOUBLE) / 1000000.0
               / CAST(n AS DOUBLE))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0), 6)
             AS DOUBLE) AS atkinson_1,
           CAST(round(exp(CAST(sln AS DOUBLE) / 1000000.0
             / CAST(n AS DOUBLE)), 6) AS DOUBLE) AS geo_mean,
           CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0,
             6) AS DOUBLE) AS mean
    FROM a
    """,
)
def atkinson_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (epsilon=1) of order values
    (stats/descriptive.py atkinson_index; Atkinson 1970) — the
    welfare member of the Gini/Theil/Lorenz/HHI family: u6-quantized
    log summands, exact micro-unit mean, one closed form."""
    from gofast_spark.stats.descriptive import atkinson_index

    o = _t(spark, sf_dir, "orders")
    out = atkinson_index(o, "o_totalprice")
    return out.select(
        "n",
        F.round("atkinson_1", 6).cast("double").alias("atkinson_1"),
        F.round("geo_mean", 6).cast("double").alias("geo_mean"),
        F.round("mean", 6).cast("double").alias("mean"),
    )
