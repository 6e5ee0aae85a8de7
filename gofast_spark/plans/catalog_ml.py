"""Catalog entries: model-selection surface (ml/selection.py) —
deterministic k-fold assignment, one-pass cross-validated OLS, and the
one-pass ridge lambda sweep.

Mirrors the reference's model-search layer (``gofast/models/optimize.py``
CV search, ``gofast/models/validation.py`` fold handling) in its
distributed form: folds from the engine-portable LCG id hash, all fold
Gram moments from ONE groupBy pass, per-fold train moments by
subtraction, fixed-order Cramer solves.  Each oracle replays the full
chain relationally in DuckDB — fold hash, per-fold moments, moment
subtraction, the identical determinant expression tree — so the
differential gate certifies the arithmetic, not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.plans.catalog import _t, query
from gofast_spark.plans.catalog_stats import _det3_sql

_CV_K = 4
_CV_SEED = 0

# shared projection + fold hash over lineitem (the LCG constants of
# operators.split_train_test_by_id / ml.selection.kfold_assign)
_CV_D_CTE = f"""d AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             CAST(l_discount AS DOUBLE) AS x2,
             CAST(l_extendedprice AS DOUBLE) AS y,
             CAST(((l_orderkey + {_CV_SEED}) * 1103515245 + 12345)
                  % 2147483648 % {_CV_K} AS INT) AS fold
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL)"""

_CV_MOMENT_CTES = f"""{_CV_D_CTE},
    m AS (
      SELECT fold,
             sum(1.0) AS a00, sum(x1) AS a01, sum(x2) AS a02,
             sum(x1 * x1) AS a11, sum(x1 * x2) AS a12,
             sum(x2 * x2) AS a22,
             sum(y) AS b0, sum(x1 * y) AS b1, sum(x2 * y) AS b2,
             sum(y * y) AS yy, count(*) AS n
      FROM d GROUP BY fold),
    t AS (
      SELECT sum(a00) AS a00, sum(a01) AS a01, sum(a02) AS a02,
             sum(a11) AS a11, sum(a12) AS a12, sum(a22) AS a22,
             sum(b0) AS b0, sum(b1) AS b1, sum(b2) AS b2
      FROM m),
    tr AS (
      SELECT m.fold,
             t.a00 - m.a00 AS a00, t.a01 - m.a01 AS a01,
             t.a02 - m.a02 AS a02, t.a11 - m.a11 AS a11,
             t.a12 - m.a12 AS a12, t.a22 - m.a22 AS a22,
             t.b0 - m.b0 AS b0, t.b1 - m.b1 AS b1, t.b2 - m.b2 AS b2
      FROM m, t)"""


def _cramer_w_sql(lam: str = "0.0") -> list[str]:
    """The three Cramer-solve expressions over tr's train moments with
    ridge ``lam`` on the feature diagonal (a11, a22; never a00) — the
    same fixed expression order as ml.regression._det3/_cramer_solve."""
    A = [
        ["a00", "a01", "a02"],
        ["a01", f"a11 + {lam}", "a12"],
        ["a02", "a12", f"a22 + {lam}"],
    ]
    b = ["b0", "b1", "b2"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[b[i] if c == j else A[i][c] for c in range(3)] for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    return ws


def _sse_sql() -> str:
    """Held-out SSE from the held-out fold's OWN moments (no second
    data pass): yy - 2 w'b + w'Aw in the fixed accumulation order of
    ml.selection._solve_and_score."""
    return """m.yy - 2 * (w.w0 * m.b0 + w.w1 * m.b1 + w.w2 * m.b2)
                + (w.w0 * (m.a00 * w.w0 + m.a01 * w.w1 + m.a02 * w.w2)
                   + w.w1 * (m.a01 * w.w0 + m.a11 * w.w1 + m.a12 * w.w2)
                   + w.w2 * (m.a02 * w.w0 + m.a12 * w.w1 + m.a22 * w.w2))"""


@query(
    "cv_fold_assignment_counts",
    oracle=f"""
    SELECT CAST(((user_id + 7) * 1103515245 + 12345)
                % 2147483648 % 5 AS INT) AS fold,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY fold
    """,
)
def cv_fold_assignment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (ml/selection.py kfold_assign;
    ref gofast/models/validation.py fold handling): the engine-portable
    LCG id hash makes folds a pure projection — stable under
    repartitioning and engine swaps, with all rows of one id in one
    fold (structural leakage safety).  Counts per fold prove the
    assignment, per-fold distinct users prove id-level coherence."""
    from gofast_spark.ml.selection import kfold_assign

    e = _t(spark, sf_dir, "events")
    return kfold_assign(e, "user_id", 5, seed=7).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _cv_ols_oracle() -> str:
    w0, w1, w2 = _cramer_w_sql("0.0")
    return f"""
    WITH {_CV_MOMENT_CTES},
    w AS (
      SELECT fold, {w0} AS w0, {w1} AS w1, {w2} AS w2 FROM tr),
    s AS (
      SELECT m.fold, m.n,
             {_sse_sql()} AS sse,
             w.w0, w.w1, w.w2
      FROM w JOIN m ON m.fold = w.fold)
    SELECT fold, CAST(n AS BIGINT) AS n_test,
           CAST(round(sqrt(sse / n), 4) AS DOUBLE) AS rmse,
           CAST(round(w0, 4) AS DOUBLE) AS w0,
           CAST(round(w1, 4) AS DOUBLE) AS w1,
           CAST(round(w2, 4) AS DOUBLE) AS w2
    FROM s
    """


@query("cv_ols_rmse_lineitem", oracle=_cv_ols_oracle())
def cv_ols_rmse_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validated OLS in ONE distributed pass
    (ml/selection.py cross_val_linear; ref gofast/models/optimize.py
    search loops): a single groupBy(fold) Gram aggregate, train moments
    by subtraction, fixed-order Cramer solves, held-out RMSE from the
    held-out fold's own moments — no per-fold refit scans.  The oracle
    replays fold hash, moment algebra, and the identical determinant
    tree."""
    from gofast_spark.ml.selection import cross_val_linear

    li = _t(spark, sf_dir, "lineitem")
    out = cross_val_linear(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", k=_CV_K, seed=_CV_SEED,
    )
    return out.select(
        "fold", "n_test",
        F.round("rmse", 4).cast("double").alias("rmse"),
        F.round("w0", 4).cast("double").alias("w0"),
        F.round("w1", 4).cast("double").alias("w1"),
        F.round("w2", 4).cast("double").alias("w2"),
    )


_SWEEP_LAMBDAS = (0.0, 1000.0, 1000000.0)


def _ridge_sweep_oracle() -> str:
    w0, w1, w2 = _cramer_w_sql("ls.lam")
    vals = ", ".join(f"({x!r})" for x in _SWEEP_LAMBDAS)
    return f"""
    WITH {_CV_MOMENT_CTES},
    ls AS (SELECT CAST(lam AS DOUBLE) AS lam
           FROM (VALUES {vals}) AS v(lam)),
    w AS (
      SELECT ls.lam, tr.fold, {w0} AS w0, {w1} AS w1, {w2} AS w2
      FROM tr, ls),
    s AS (
      SELECT w.lam, m.fold, sqrt(({_sse_sql()}) / m.n) AS fold_rmse
      FROM w JOIN m ON m.fold = w.fold)
    SELECT lam,
           CAST(round(sum(fold_rmse) / {_CV_K}, 4) AS DOUBLE) AS mean_rmse
    FROM s GROUP BY lam
    """


@query("ridge_cv_sweep_lineitem", oracle=_ridge_sweep_oracle())
def ridge_cv_sweep_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated ridge lambda sweep sharing ONE set of fold
    moments across all candidates (ml/selection.py ridge_cv_sweep; ref
    gofast/models/optimize.py hyperparameter search): the whole sweep
    costs a single data scan regardless of candidate count — the
    closed-form-model property that makes wide searches feasible at
    100 TB.  The oracle replays every (lambda, fold) solve."""
    from gofast_spark.ml.selection import ridge_cv_sweep

    li = _t(spark, sf_dir, "lineitem")
    out = ridge_cv_sweep(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", lambdas=_SWEEP_LAMBDAS, k=_CV_K,
        seed=_CV_SEED,
    )
    return out.select(
        "lam", F.round("mean_rmse", 4).cast("double").alias("mean_rmse")
    )


_RS_GRID = [
    0.0, 0.001, 0.01, 0.1, 0.5, 1.0, 2.0, 5.0,
    10.0, 20.0, 50.0, 100.0, 200.0, 500.0, 1000.0, 10000.0,
]
_RS_TRIALS = 8
_RS_SEED = 11


def _random_search_oracle() -> str:
    w0, w1, w2 = _cramer_w_sql("ls.lam")
    case = " ".join(
        f"WHEN {j} THEN {float(v)!r}" for j, v in enumerate(_RS_GRID)
    )
    rows = []
    state = f"CAST({_RS_SEED} AS BIGINT)"
    for i in range(_RS_TRIALS):
        state = f"(({state}) * 1103515245 + 12345) % 2147483648"
        rows.append(
            f"({i}, CASE (({state}) % {len(_RS_GRID)}) {case} END)"
        )
    vals = ", ".join(rows)
    return f"""
    WITH {_CV_MOMENT_CTES},
    tl(trial, lam) AS (VALUES {vals}),
    ls AS (SELECT DISTINCT CAST(lam AS DOUBLE) AS lam FROM tl),
    w AS (
      SELECT ls.lam, tr.fold, {w0} AS w0, {w1} AS w1, {w2} AS w2
      FROM tr, ls),
    s AS (
      SELECT w.lam, m.fold, sqrt(({_sse_sql()}) / m.n) AS fold_rmse
      FROM w JOIN m ON m.fold = w.fold),
    r AS (
      SELECT lam,
             CAST(round(sum(fold_rmse) / {_CV_K}, 4) AS DOUBLE)
               AS mean_rmse
      FROM s GROUP BY lam)
    SELECT CAST(tl.trial AS INT) AS trial,
           CAST(tl.lam AS DOUBLE) AS lam,
           r.mean_rmse
    FROM tl JOIN r ON r.lam = CAST(tl.lam AS DOUBLE)
    """


@query("random_search_ridge_lineitem", oracle=_random_search_oracle())
def random_search_ridge_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Random hyperparameter search over the ridge-lambda grid
    (ml/selection.py random_search_ridge; Bergstra & Bengio JMLR 2012;
    ref gofast/models/optimize.py random search — the last reference
    surface the r8 verdict listed as absent): 8 trials drawn from a
    16-point grid by the portable integer LCG, all scored from ONE set
    of CV fold moments (single scan).  The oracle replays the LCG index
    chain in pure BIGINT arithmetic (VALUES of nested LCG states), maps
    indices to exact grid literals, and re-solves every (lambda, fold)
    Cramer system — sampling AND scoring both differentially
    verified."""
    from gofast_spark.ml.selection import random_search_ridge

    li = _t(spark, sf_dir, "lineitem")
    out = random_search_ridge(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", grid=_RS_GRID, n_trials=_RS_TRIALS,
        k=_CV_K, seed=_RS_SEED,
    )
    return out.select(
        "trial",
        "lam",
        F.round("mean_rmse", 4).cast("double").alias("mean_rmse"),
    )


_LC_STEPS = 4  # buckets 0..3 cumulate into training sets; bucket 4 = holdout


def _learning_curve_oracle() -> str:
    w0, w1, w2 = _cramer_w_sql("0.0")
    return f"""
    WITH {_CV_D_CTE.replace(f"% {_CV_K} AS", f"% {_LC_STEPS + 1} AS")},
    m AS (
      SELECT fold,
             sum(1.0) AS a00, sum(x1) AS a01, sum(x2) AS a02,
             sum(x1 * x1) AS a11, sum(x1 * x2) AS a12,
             sum(x2 * x2) AS a22,
             sum(y) AS b0, sum(x1 * y) AS b1, sum(x2 * y) AS b2,
             sum(y * y) AS yy, count(*) AS n
      FROM d GROUP BY fold),
    h AS (SELECT * FROM m WHERE fold = {_LC_STEPS}),
    tr AS (
      SELECT fold,
             sum(a00) OVER (ORDER BY fold) AS a00,
             sum(a01) OVER (ORDER BY fold) AS a01,
             sum(a02) OVER (ORDER BY fold) AS a02,
             sum(a11) OVER (ORDER BY fold) AS a11,
             sum(a12) OVER (ORDER BY fold) AS a12,
             sum(a22) OVER (ORDER BY fold) AS a22,
             sum(b0) OVER (ORDER BY fold) AS b0,
             sum(b1) OVER (ORDER BY fold) AS b1,
             sum(b2) OVER (ORDER BY fold) AS b2,
             sum(n) OVER (ORDER BY fold) AS n_train
      FROM m WHERE fold < {_LC_STEPS}),
    w AS (
      SELECT fold, n_train, {w0} AS w0, {w1} AS w1, {w2} AS w2 FROM tr)
    SELECT CAST(w.fold + 1 AS INT) AS step,
           CAST(w.n_train AS BIGINT) AS n_train,
           CAST(h.n AS BIGINT) AS n_test,
           CAST(round(sqrt((h.yy
             - 2 * (w.w0 * h.b0 + w.w1 * h.b1 + w.w2 * h.b2)
             + (w.w0 * (h.a00 * w.w0 + h.a01 * w.w1 + h.a02 * w.w2)
                + w.w1 * (h.a01 * w.w0 + h.a11 * w.w1 + h.a12 * w.w2)
                + w.w2 * (h.a02 * w.w0 + h.a12 * w.w1 + h.a22 * w.w2)))
             / h.n), 4) AS DOUBLE) AS rmse
    FROM w, h
    """


@query("learning_curve_lineitem", oracle=_learning_curve_oracle())
def learning_curve_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass learning curve (ml/selection.py learning_curve_linear;
    the sklearn learning_curve diagnostic, ref gofast/models/ evaluation
    utilities): per-bucket Gram moments from ONE groupBy, cumulative
    moment sums as growing training sets, every curve point scored
    against the same holdout bucket's moments — no per-point refit
    scans.  The oracle replays the cumulative-window moment algebra and
    the identical Cramer tree."""
    from gofast_spark.ml.selection import learning_curve_linear

    li = _t(spark, sf_dir, "lineitem")
    out = learning_curve_linear(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", n_steps=_LC_STEPS, seed=_CV_SEED,
    )
    return out.select(
        "step", "n_train", "n_test",
        F.round("rmse", 4).cast("double").alias("rmse"),
    )


_SMBO_ROUNDS = 3
_SMBO_INIT = [0, len(_RS_GRID) // 2, len(_RS_GRID) - 1]


def _smbo_oracle() -> str:
    """Unrolled SMBO replay: the full candidate RMSE table once, then
    per-round quadratic-surrogate Cramer fits over the growing observed
    set and acquisition argmins — every pick a LIMIT-1 over (mu, j).

    Inlining bound (the HITS-oracle lesson): each round references
    every earlier pick CTE, so DuckDB's CTE inlining duplicates the
    moment-scan subplan roughly 2^rounds times.  At _SMBO_ROUNDS = 3
    that is a handful of 60k-row aggregates (sub-second at sf0.01);
    raising the round count needs a materialized-candidate rewrite
    first — do NOT bump the constant without one."""
    w0, w1, w2 = _cramer_w_sql("ls.lam")
    vals = ", ".join(
        f"({j}, {float(v)!r})" for j, v in enumerate(_RS_GRID)
    )
    # fixed fold-order RMSE total: pivoted CASE terms summed
    # left-to-right, matching ml.selection.smbo_quadratic_ridge's
    # explicit fold-order accumulation
    fold_tot = " + ".join(
        f"max(CASE WHEN fold = {f} THEN fr END)" for f in range(_CV_K)
    )
    init_set = ", ".join(str(j) for j in _SMBO_INIT)
    det = _det3_sql
    A = [["s0", "s1", "s2"], ["s1", "s2", "s3"], ["s2", "s3", "s4"]]
    bb = ["t0", "t1", "t2"]
    qs = []
    for col in range(3):
        Aj = [
            [bb[i] if c == col else A[i][c] for c in range(3)]
            for i in range(3)
        ]
        qs.append(f"({det(Aj)}) / ({det(A)})")
    ctes = [f"""{_CV_MOMENT_CTES},
    tl(j, lam) AS (VALUES {vals}),
    ls AS (SELECT j, CAST(lam AS DOUBLE) AS lam FROM tl),
    w AS (
      SELECT ls.j, ls.lam, tr.fold, {w0} AS w0, {w1} AS w1, {w2} AS w2
      FROM tr, ls),
    s AS (
      SELECT w.j, w.lam, m.fold, sqrt(({_sse_sql()}) / m.n) AS fr
      FROM w JOIN m ON m.fold = w.fold),
    r AS (
      SELECT j, lam,
             CAST(floor(({fold_tot}) / {_CV_K} * 1e4 + 0.5) AS BIGINT)
               AS y
      FROM s GROUP BY j, lam)"""]
    for rr in range(1, _SMBO_ROUNDS + 1):
        prev_picks = [f"(SELECT j FROM p{q})" for q in range(1, rr)]
        obs = f"j IN ({init_set})"
        for pp in prev_picks:
            obs += f" OR j = {pp}"
        ctes.append(f"""o{rr} AS (
      SELECT CAST(count(*) AS DOUBLE) AS s0,
             CAST(sum(j) AS DOUBLE) AS s1,
             CAST(sum(j * j) AS DOUBLE) AS s2,
             CAST(sum(j * j * j) AS DOUBLE) AS s3,
             CAST(sum(j * j * j * j) AS DOUBLE) AS s4,
             CAST(sum(y) AS DOUBLE) AS t0,
             CAST(sum(y * j) AS DOUBLE) AS t1,
             CAST(sum(y * (j * j)) AS DOUBLE) AS t2
      FROM r WHERE {obs}),
    f{rr} AS (
      SELECT {qs[0]} AS q0, {qs[1]} AS q1, {qs[2]} AS q2 FROM o{rr}),
    p{rr} AS (
      SELECT r.j, r.lam, r.y
      FROM r, f{rr}
      WHERE NOT ({obs})
      ORDER BY f{rr}.q0 + f{rr}.q1 * r.j + f{rr}.q2 * (r.j * r.j), r.j
      LIMIT 1)""")
    body = ",\n    ".join(ctes)
    init_rows = "\n      UNION ALL ".join(
        f"SELECT {step} AS step, 'init' AS phase, j, lam, y "
        f"FROM r WHERE j = {j}"
        for step, j in enumerate(_SMBO_INIT)
    )
    pick_rows = "\n      UNION ALL ".join(
        f"SELECT {len(_SMBO_INIT) + q - 1}, 'smbo', j, lam, y FROM p{q}"
        for q in range(1, _SMBO_ROUNDS + 1)
    )
    return f"""
    WITH {body},
    fin AS (
      {init_rows}
      UNION ALL {pick_rows})
    SELECT CAST(step AS INT) AS step, phase, CAST(j AS INT) AS grid_j,
           CAST(lam AS DOUBLE) AS lam,
           CAST(y AS DOUBLE) / 1e4 AS mean_rmse
    FROM fin
    """


@query("smbo_ridge_lineitem", oracle=_smbo_oracle())
def smbo_ridge_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential model-based (Bayesian-optimization-style)
    hyperparameter search over the ridge-lambda grid (ml/selection.py
    smbo_quadratic_ridge; SMAC — Hutter, Hoos & Leyton-Brown, LION
    2011; EGO — Jones, Schonlau & Welch 1998; the reference dispatches
    this family to BayesSearchCV, gofast/models/_optimize.py:703-719,
    and names SMBO at gofast/models/_selection.py:1513): a
    space-filling initial design, a quadratic response-surface
    surrogate fit by fixed-order Cramer least squares over integer
    moments, and per-round acquisition argmins — every evaluation
    scored from ONE set of CV fold moments (single data scan total).
    The oracle replays the full sequential loop unrolled: candidate
    RMSE table, per-round surrogate fit, and each acquisition's
    (mu, j) argmin."""
    from gofast_spark.ml.selection import smbo_quadratic_ridge

    li = _t(spark, sf_dir, "lineitem")
    return smbo_quadratic_ridge(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", grid=_RS_GRID, rounds=_SMBO_ROUNDS,
        k=_CV_K, seed=_CV_SEED,
    )


def _gnb_oracle() -> str:
    """Full relational GNB replay: per-class moments, sklearn-style
    var_smoothing, per-(row, class) log-likelihood, argmax with the
    (score DESC, class ASC) tie-break, confusion counts."""
    return """
    WITH d AS (
      SELECT o_orderkey AS rid, o_orderstatus AS y,
             CAST(o_totalprice AS DOUBLE) AS x1,
             CAST(o_custkey % 97 AS DOUBLE) AS x2
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_custkey IS NOT NULL),
    m AS (
      SELECT y AS cls, count(*) AS n,
             sum(x1) AS s1, sum(x1 * x1) AS q1,
             sum(x2) AS s2, sum(x2 * x2) AS q2
      FROM d GROUP BY y),
    tot AS (SELECT sum(n) AS t FROM m),
    p0 AS (
      SELECT cls, n, CAST(n AS DOUBLE) / t AS prior,
             s1 / n AS mu1, q1 / n - (s1 / n) * (s1 / n) AS v1,
             s2 / n AS mu2, q2 / n - (s2 / n) * (s2 / n) AS v2
      FROM m, tot),
    e AS (SELECT 1e-9 * max(greatest(v1, v2)) AS eps FROM p0),
    p AS (SELECT cls, prior, mu1, v1 + eps AS v1, mu2, v2 + eps AS v2
          FROM p0, e),
    scored AS (
      SELECT d.rid, d.y, p.cls,
             ln(p.prior)
             + (-0.5 * ln(2 * pi() * p.v1))
             - (d.x1 - p.mu1) * (d.x1 - p.mu1) / (2 * p.v1)
             + (-0.5 * ln(2 * pi() * p.v2))
             - (d.x2 - p.mu2) * (d.x2 - p.mu2) / (2 * p.v2) AS ll
      FROM d, p),
    best AS (
      SELECT rid, y, cls AS prediction FROM (
        SELECT rid, y, cls,
               row_number() OVER (PARTITION BY rid
                                  ORDER BY ll DESC, cls) AS rn
        FROM scored) WHERE rn = 1)
    SELECT y AS label, prediction, count(*) AS n
    FROM best GROUP BY y, prediction
    """


@query("gaussian_nb_confusion_orders", oracle=_gnb_oracle())
def gaussian_nb_confusion_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian Naive Bayes train + score in two single passes
    (ml/bayes.py; ref gofast/estimators/ sklearn-delegating
    classifiers): training is ONE groupBy(class) moment aggregate
    (bounded driver data: classes x features), scoring is one
    literal-folded log-likelihood projection with a fixed-order argmax
    — no iteration, no UDF.  The oracle replays moments, sklearn-style
    var_smoothing, scoring, and the (score DESC, class ASC) tie-break
    relationally; the confusion matrix must match exactly."""
    from gofast_spark.ml.bayes import fit_gaussian_nb, predict_gaussian_nb

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("y"),
        F.col("o_totalprice").cast("double").alias("x1"),
        (F.col("o_custkey") % 97).cast("double").alias("x2"),
    ).where(
        F.col("y").isNotNull() & F.col("x1").isNotNull()
        & F.col("x2").isNotNull()
    )
    model = fit_gaussian_nb(o, ["x1", "x2"], "y")
    scored = predict_gaussian_nb(o, model)
    return scored.groupBy(
        F.col("y").alias("label"), "prediction"
    ).agg(F.count(F.lit(1)).alias("n"))


_STUMP_LO, _STUMP_HI, _STUMP_BINS = 0.0, 600000.0, 64


def _stump_oracle() -> str:
    width = (_STUMP_HI - _STUMP_LO) / _STUMP_BINS
    return f"""
    WITH d AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x,
             CAST(o_orderstatus = 'F' AS BIGINT) AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
    h AS (
      SELECT least(greatest(CAST(floor((x - {_STUMP_LO}) / {width}) AS INT),
                            0), {_STUMP_BINS - 1}) AS bin,
             count(*) AS n, sum(y) AS pos
      FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS tn, sum(pos) AS tpos FROM h),
    c AS (
      SELECT bin,
             coalesce(sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_left,
             coalesce(sum(pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pos_left
      FROM h),
    s AS (
      SELECT {_STUMP_LO} + CAST(bin AS DOUBLE) * {width} AS threshold,
             (2.0 * (CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                  * (1.0 - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)))
             - (CAST(n_left AS DOUBLE) / CAST(tn AS DOUBLE))
               * (2.0 * (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                      * (1.0 - CAST(pos_left AS DOUBLE)
                             / CAST(n_left AS DOUBLE)))
             - (CAST(tn - n_left AS DOUBLE) / CAST(tn AS DOUBLE))
               * (2.0 * (CAST(tpos - pos_left AS DOUBLE)
                             / CAST(tn - n_left AS DOUBLE))
                      * (1.0 - CAST(tpos - pos_left AS DOUBLE)
                             / CAST(tn - n_left AS DOUBLE)))
               AS gain,
             n_left, tn - n_left AS n_right,
             pos_left, tpos - pos_left AS pos_right
      FROM c, t
      WHERE n_left > 0 AND tn - n_left > 0)
    SELECT threshold, gain,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(pos_right AS BIGINT) AS pos_right
    FROM s ORDER BY gain DESC, threshold LIMIT 1
    """


@query("stump_split_orders", oracle=_stump_oracle())
def stump_split_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split finding (ml/stump.py; the
    LightGBM-hist primitive, Ke et al. NeurIPS 2017; ref
    gofast/estimators/tree.py at the single-split level): best Gini
    split of total price for the finished-order label from ONE
    histogram groupBy + a 64-row cumulative window + an in-plan
    max_by argmax — one scan to find the best split of any table size.
    Gains derive from exact integer counts in a fixed expression
    order, so the oracle's replay matches bit-for-bit, unrounded."""
    from gofast_spark.ml.stump import fit_stump

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return fit_stump(
        o, "price", "is_final",
        lo=_STUMP_LO, hi=_STUMP_HI, bins=_STUMP_BINS,
    )


_BAG_B = 5
_BAG_SEED = 7


def _bagged_oracle() -> str:
    from gofast_spark.stats.resampling import poisson1_weight_sql

    width = (_STUMP_HI - _STUMP_LO) / _STUMP_BINS
    u = (
        "(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '_' || "
        f"CAST(r.replicate AS VARCHAR) || '_{_BAG_SEED}'), 1, 15)) AS BIGINT) "
        "% 2147483648)"
    )
    w = poisson1_weight_sql("uu")
    return f"""
    WITH r AS (SELECT CAST(range AS BIGINT) AS replicate FROM range({_BAG_B})),
    d AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS x,
             CAST(o_orderstatus = 'F' AS BIGINT) AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
    u AS (SELECT r.replicate, k, x, y, {u} AS uu FROM d, r),
    w AS (SELECT replicate, x, y, {w} AS w FROM u),
    h AS (
      SELECT replicate,
             least(greatest(CAST(floor((x - {_STUMP_LO}) / {width}) AS INT),
                            0), {_STUMP_BINS - 1}) AS bin,
             sum(w) AS n, sum(w * y) AS pos
      FROM w GROUP BY 1, 2),
    c AS (
      SELECT replicate, bin,
             coalesce(sum(n) OVER pw, 0) AS n_left,
             coalesce(sum(pos) OVER pw, 0) AS pos_left,
             sum(n) OVER pt AS tn, sum(pos) OVER pt AS tpos
      FROM h
      WINDOW pw AS (PARTITION BY replicate ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             pt AS (PARTITION BY replicate)),
    s AS (
      SELECT replicate,
             {_STUMP_LO} + CAST(bin AS DOUBLE) * {width} AS threshold,
             (2.0 * (CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                  * (1.0 - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)))
             - (CAST(n_left AS DOUBLE) / CAST(tn AS DOUBLE))
               * (2.0 * (CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE))
                      * (1.0 - CAST(pos_left AS DOUBLE)
                             / CAST(n_left AS DOUBLE)))
             - (CAST(tn - n_left AS DOUBLE) / CAST(tn AS DOUBLE))
               * (2.0 * (CAST(tpos - pos_left AS DOUBLE)
                             / CAST(tn - n_left AS DOUBLE))
                      * (1.0 - CAST(tpos - pos_left AS DOUBLE)
                             / CAST(tn - n_left AS DOUBLE)))
               AS gain,
             n_left, tn - n_left AS n_right,
             pos_left, tpos - pos_left AS pos_right
      FROM c WHERE n_left > 0 AND tn - n_left > 0)
    SELECT replicate, threshold, gain,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(pos_right AS BIGINT) AS pos_right
    FROM s
    QUALIFY row_number() OVER (PARTITION BY replicate
                               ORDER BY gain DESC, threshold) = 1
    """


@query("bagged_stumps_orders", oracle=_bagged_oracle())
def bagged_stumps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged stump ensemble (ml/bagging.py; Breiman, Machine Learning
    1996; ref gofast/ensemble.py): five Poisson-bootstrap replicates of
    the stump_split_orders fit from ONE scan — the replicate explode
    folds into a (B x bins)-key histogram, windows and argmax run per
    replicate over <= 64 rows.  Weights are exact-integer portable
    draws (the bootstrap convention), so every replicate's split and
    gain replay bit-for-bit, unrounded."""
    from gofast_spark.ml.bagging import fit_bagged_stumps

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return fit_bagged_stumps(
        o, "price", "is_final", "o_orderkey",
        lo=_STUMP_LO, hi=_STUMP_HI, bins=_STUMP_BINS,
        n_estimators=_BAG_B, seed=_BAG_SEED,
    )


_BOOST_ROUNDS = 3
_BOOST_LO, _BOOST_HI, _BOOST_BINS = 1.0, 13.0, 12


def _boost_oracle() -> str:
    """Unrolled 3-round boosted-stump chain (the gradient_descent /
    pagerank unrolled-oracle discipline): every round a histogram CTE
    over the EXACT-integer residuals, a cumulative-candidate CTE, a
    LIMIT-1 argmax, and a 1-row cross join into the next residual
    projection.  trunc() guards every integer cast (DuckDB CAST
    rounds; Spark's cast truncates)."""
    width = (_BOOST_HI - _BOOST_LO) / _BOOST_BINS
    ctes = [
        f"""d AS (
      SELECT least(greatest(CAST(floor((CAST(date_part('month', o_orderdate)
                   AS DOUBLE) - {_BOOST_LO}) / {width}) AS INT), 0),
                   {_BOOST_BINS - 1}) AS bin,
             CAST(trunc(CAST(o_totalprice AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
    b0 AS (
      SELECT CAST(trunc(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT)
        AS base_u3 FROM d),
    s0 AS (SELECT bin, y, base_u3 AS pred FROM d, b0)"""
    ]
    for k in range(1, _BOOST_ROUNDS + 1):
        p = k - 1
        ctes.append(f"""h{k} AS (
      SELECT bin, count(*) AS n, sum(y - pred) AS s
      FROM s{p} GROUP BY bin),
    t{k} AS (SELECT sum(n) AS tn, sum(s) AS ts FROM h{k}),
    c{k} AS (
      SELECT bin,
             coalesce(sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nl,
             coalesce(sum(s) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sl
      FROM h{k}),
    g{k} AS (
      SELECT {_BOOST_LO} + CAST(bin AS DOUBLE) * {width} AS threshold,
             CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
               + CAST(ts - sl AS DOUBLE) * CAST(ts - sl AS DOUBLE)
                 / CAST(tn - nl AS DOUBLE) AS gain,
             CAST(trunc(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
               AS BIGINT) AS left_u3,
             CAST(trunc(CAST(ts - sl AS DOUBLE) / CAST(tn - nl AS DOUBLE))
               AS BIGINT) AS right_u3,
             bin AS split_bin
      FROM c{k}, t{k}
      WHERE nl > 0 AND tn - nl > 0),
    best{k} AS (
      SELECT * FROM g{k} ORDER BY gain DESC, threshold LIMIT 1),
    s{k} AS (
      SELECT s{p}.bin, s{p}.y,
             s{p}.pred + CASE WHEN s{p}.bin < best{k}.split_bin
                              THEN best{k}.left_u3
                              ELSE best{k}.right_u3 END AS pred
      FROM s{p}, best{k})""")
    body = ",\n    ".join(ctes)
    selects = [
        "SELECT CAST(0 AS INT) AS round, CAST(NULL AS DOUBLE) AS threshold,"
        " base_u3 AS left_u3, base_u3 AS right_u3 FROM b0"
    ]
    for k in range(1, _BOOST_ROUNDS + 1):
        selects.append(
            f"SELECT CAST({k} AS INT), threshold, left_u3, right_u3"
            f" FROM best{k}"
        )
    return f"""
    WITH {body}
    {" UNION ALL ".join(selects)}
    """


@query("boosted_stumps_orders", oracle=_boost_oracle())
def boosted_stumps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three L2-boosting rounds of histogram stumps (ml/boost.py;
    Friedman 2001, LightGBM-hist split finding) fitting order revenue
    on order month — per round one histogram aggregate + a bins-sized
    window + an in-plan argmax broadcast into the next residual
    projection, ALL in one lazy plan with exact milli-unit integer
    state.  The oracle unrolls the identical three rounds; the model
    frame (base + per-round thresholds and leaf values) matches
    bit-for-bit."""
    from gofast_spark.ml.boost import fit_boosted_stumps

    o = _t(spark, sf_dir, "orders").select(
        F.month("o_orderdate").cast("double").alias("m"),
        F.col("o_totalprice").alias("price"),
    )
    return fit_boosted_stumps(
        o, "m", "price",
        lo=_BOOST_LO, hi=_BOOST_HI, bins=_BOOST_BINS,
        rounds=_BOOST_ROUNDS,
    )


_KM_K, _KM_ITER, _KM_D = 4, 2, 4


def _kmeans_oracle() -> str:
    """Unrolled exact-Lloyd replay: hash-seeded init, per-point argmin
    with (distance, cid) tie-break, truncated-integer-mean updates,
    empty-cluster carry-over — all integer micro-unit arithmetic."""
    xs = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000 + 0.5)"
        f" AS BIGINT) AS x{i}"
        for i in range(_KM_D)
    )
    ctes = [f"""pts AS (
      SELECT vec_id AS id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv,
             {xs}
      FROM embeddings WHERE vec_id IS NOT NULL),
    c0 AS (
      SELECT row_number() OVER (ORDER BY hv) - 1 AS cid,
             {", ".join(f"x{i} AS k{i}" for i in range(_KM_D))}
      FROM (SELECT * FROM pts ORDER BY hv LIMIT {_KM_K}))"""]
    dist = " + ".join(
        f"(p.x{i} - c.k{i}) * (p.x{i} - c.k{i})" for i in range(_KM_D)
    )
    for t in range(1, _KM_ITER + 1):
        p = t - 1
        ctes.append(f"""a{t} AS (
      SELECT id, {", ".join(f"x{i}" for i in range(_KM_D))}, cid FROM (
        SELECT p.*, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, c{p} c) WHERE rn = 1),
    u{t} AS (
      SELECT cid,
             {", ".join(
                 f"CAST(trunc(CAST(sum(x{i}) AS DOUBLE) / count(*))"
                 f" AS BIGINT) AS k{i}" for i in range(_KM_D))},
             count(*) AS n
      FROM a{t} GROUP BY cid),
    c{t} AS (
      SELECT c{p}.cid,
             {", ".join(
                 f"coalesce(u{t}.k{i}, c{p}.k{i}) AS k{i}"
                 for i in range(_KM_D))},
             coalesce(u{t}.n, 0) AS n
      FROM c{p} LEFT JOIN u{t} USING (cid))""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT cid,
           {", ".join(f"k{i} AS c{i}_u6" for i in range(_KM_D))},
           CAST(n AS BIGINT) AS n_points
    FROM c{_KM_ITER}
    """


@query("kmeans_lloyd_embeddings", oracle=_kmeans_oracle())
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable exact k-means (ml/kmeans_exact.py; Lloyd 1982)
    over the first 4 embedding dims: integer micro-unit coordinates
    make every distance, argmin, and truncated-mean update exact and
    reduction-order-free, init is the k lowest portable-md5 ids, so
    two unrolled Lloyd iterations match the relational replay
    bit-for-bit — the oracle-backed from-scratch companion to the
    MLlib-based IVF/kmeans rows-only entries.  Per iteration: one
    k-row broadcast, one min_by argmin, one groupBy(k) update."""
    from gofast_spark.ml.kmeans_exact import fit_kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[
            F.element_at("embedding", i + 1).alias(f"e{i}")
            for i in range(_KM_D)
        ],
    )
    return fit_kmeans_lloyd(
        e, "vec_id", [f"e{i}" for i in range(_KM_D)], _KM_K,
        iterations=_KM_ITER,
    )


def _kmeans_inertia_oracle() -> str:
    """The full Lloyd replay of _kmeans_oracle plus a final
    min-distance assignment against the converged centroids and one
    exact-integer sum."""
    base = _kmeans_oracle()
    # reuse everything up to the FINAL SELECT ("SELECT cid," also
    # occurs inside the u* CTEs — rsplit, not split)
    body = base.rsplit("SELECT cid,", 1)[0].rstrip().rstrip("\n")
    dist = " + ".join(
        f"(p.x{i} - c.k{i}) * (p.x{i} - c.k{i})" for i in range(_KM_D)
    )
    return f"""{body},
    f AS (
      SELECT p.id, min({dist}) AS d
      FROM pts p, c{_KM_ITER} c GROUP BY p.id)
    SELECT CAST(sum(d) AS BIGINT) AS inertia_uu,
           count(*) AS n_points
    FROM f
    """


@query("kmeans_inertia_embeddings", oracle=_kmeans_inertia_oracle())
def kmeans_inertia_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality for the exact k-means (ml/kmeans_exact.py
    kmeans_inertia): within-cluster SSE against the 2-iteration Lloyd
    centroids — the elbow statistic — as one k-row broadcast + one
    per-point min + one exact-integer sum, composed lazily on top of
    the training plan.  The oracle replays training AND evaluation."""
    from gofast_spark.ml.kmeans_exact import (
        fit_kmeans_lloyd,
        kmeans_inertia,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[
            F.element_at("embedding", i + 1).alias(f"e{i}")
            for i in range(_KM_D)
        ],
    )
    cent = fit_kmeans_lloyd(
        e, "vec_id", [f"e{i}" for i in range(_KM_D)], _KM_K,
        iterations=_KM_ITER,
    )
    return kmeans_inertia(e, "vec_id", [f"e{i}" for i in range(_KM_D)], cent)


@query(
    "frequent_pairs_lineitem",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk,
             CAST(l_partkey % 199 AS BIGINT) AS it
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    s AS (SELECT it, count(*) AS n_it FROM b GROUP BY it),
    f AS (SELECT * FROM s WHERE n_it >= 5),
    p AS (
      SELECT l.it AS item_a, r.it AS item_b,
             any_value(lf.n_it) AS n_a, any_value(rf.n_it) AS n_b,
             count(*) AS n_pair
      FROM b l JOIN b r ON r.bk = l.bk AND l.it < r.it
      JOIN f lf ON lf.it = l.it
      JOIN f rf ON rf.it = r.it
      GROUP BY l.it, r.it
      HAVING count(*) >= 5),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b)
    SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(CAST(n_baskets AS DOUBLE) * CAST(n_pair AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS DOUBLE)
             AS lift
    FROM p, nb
    ORDER BY n_pair DESC, item_a, item_b LIMIT 20
    """,
)
def frequent_pairs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori-pruned market-basket pair mining (ml/itemsets.py;
    Agrawal & Srikant VLDB 1994) over order baskets of bucketed parts:
    the frequent-item filter runs BEFORE the basket self-join (the
    pruning that tames the quadratic pair explosion at scale), one
    basket equi-join with canonical item_a < item_b, lift from a 1-row
    broadcast basket count, deterministic top-k.  The oracle replays
    the identical support/prune/join chain."""
    from gofast_spark.ml.itemsets import frequent_pairs

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 199).alias("product")
    )
    return frequent_pairs(
        li, "l_orderkey", "product", min_support=5, top_k=20
    )


_DB_EPS_U = 8_000  # eps = 0.008 in micro-units
_DB_MINPTS = 4


@query(
    "dbscan_embeddings",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT vec_id AS id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS x0,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS x1
      FROM embeddings WHERE vec_id IS NOT NULL),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM pts a JOIN pts b ON a.id < b.id
       AND (a.x0 - b.x0) * (a.x0 - b.x0)
         + (a.x1 - b.x1) * (a.x1 - b.x1)
           <= {_DB_EPS_U} * {_DB_EPS_U}),
    sym AS (
      SELECT id_a AS id, id_b AS nb FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    deg AS (SELECT id, count(*) AS n FROM sym GROUP BY id),
    core AS (SELECT id FROM deg WHERE n + 1 >= {_DB_MINPTS}),
    ce AS (
      SELECT id_a, id_b FROM pairs
      JOIN core ca ON ca.id = pairs.id_a
      JOIN core cb ON cb.id = pairs.id_b),
    ced AS (
      SELECT id_a AS src, id_b AS dst FROM ce
      UNION SELECT id_b, id_a FROM ce),
    comp(id, lab) AS (
      SELECT DISTINCT src, src FROM ced
      UNION
      SELECT e.dst, c.lab FROM comp c JOIN ced e ON e.src = c.id),
    mcomp AS (SELECT id, min(lab) AS lab FROM comp GROUP BY id),
    core_lab AS (
      SELECT core.id, coalesce(m.lab, core.id) AS cluster
      FROM core LEFT JOIN mcomp m ON m.id = core.id),
    border AS (
      SELECT s.id, min(cl.cluster) AS cluster
      FROM sym s JOIN core_lab cl ON cl.id = s.nb
      WHERE s.id NOT IN (SELECT id FROM core_lab)
      GROUP BY s.id),
    lab AS (
      SELECT id, cluster, 'core' AS role FROM core_lab
      UNION ALL SELECT id, cluster, 'border' FROM border)
    SELECT p.id, lab.cluster, coalesce(lab.role, 'noise') AS role
    FROM pts p LEFT JOIN lab ON lab.id = p.id
    """,
)
def dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed DBSCAN (ml/dbscan.py; Ester et al. KDD 1996) on
    the first two embedding dims (eps 0.008, min_pts 4): neighbor
    candidates from ONE equi-join on exploded 3^d adjacent-cell keys
    (never all-pairs), exact integer micro-unit distances, core-core
    components via the repo's hash-min connected_components, border
    points to their smallest core-neighbor cluster.  The oracle is an
    INDEPENDENT strategy — brute-force pair enumeration + a recursive
    transitive closure — so a hash match certifies the whole
    cell-join/degree/CC/border chain."""
    from gofast_spark.ml.dbscan import dbscan

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).alias("e0"),
        F.element_at("embedding", 2).alias("e1"),
    )
    return dbscan(
        e, "vec_id", ["e0", "e1"],
        eps=_DB_EPS_U / 1e6, min_pts=_DB_MINPTS,
    )


@query(
    "target_encode_orders",
    oracle="""
    WITH l AS (
      SELECT o_orderpriority AS cat, CAST(o_totalprice AS DOUBLE) AS y
      FROM orders WHERE o_totalprice IS NOT NULL),
    s AS (SELECT cat, sum(y) AS sy, count(*) AS n FROM l GROUP BY cat),
    g AS (SELECT sum(y) / count(*) AS gm FROM l)
    SELECT cat AS o_orderpriority,
           CAST(round((sy + 10.0 * gm) / (n + 10.0), 6) AS DOUBLE)
             AS prio_te,
           CAST(n AS BIGINT) AS n
    FROM s, g
    """,
)
def target_encode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (ml/encoding.py target_encode;
    Micci-Barreca SIGKDD-Exp 2001; completes the ported
    freq/label/one-hot encoder battery of
    gofast/transformers/feature_engineering.py): per-priority shrunk
    mean order value from ONE vocab-sized groupBy + a 1-row prior
    broadcast, applied as a join AQE broadcasts.  The entry folds the
    encoded frame back to the distinct (category, encoding) table the
    oracle recomputes."""
    from gofast_spark.ml.encoding import target_encode

    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    enc = target_encode(
        o, "o_orderpriority", "o_totalprice", alpha=10.0, out_col="prio_te"
    )
    return enc.groupBy("o_orderpriority").agg(
        F.round(F.min("prio_te"), 6).cast("double").alias("prio_te"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "woe_encode_customer",
    oracle="""
    WITH l AS (
      SELECT c_mktsegment AS cat,
             CAST(c_acctbal > 0 AS INT) AS pos
      FROM customer),
    per AS (
      SELECT cat, sum(pos) AS good, sum(1 - pos) AS bad
      FROM l GROUP BY cat),
    t AS (SELECT sum(good) AS g, sum(bad) AS b, count(*) AS k FROM per)
    SELECT cat AS c_mktsegment,
           CAST(round(ln(((good + 0.5) / (g + 0.5 * k))
                         / ((bad + 0.5) / (b + 0.5 * k))), 6) AS DOUBLE)
             AS seg_woe,
           CAST(good AS BIGINT) AS n_pos,
           CAST(bad AS BIGINT) AS n_neg
    FROM per, t
    """,
)
def woe_encode_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding (ml/encoding.py woe_encode — the
    scorecard encoding whose aggregate is metrics.information_value,
    ref gofast/metrics.py:1417): per-segment smoothed ln(good share /
    bad share) for the positive-balance label, one vocab-sized groupBy
    + a 1-row totals broadcast.  The entry folds back to the distinct
    (category, woe, counts) table."""
    from gofast_spark.ml.encoding import woe_encode

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("pos")
    )
    enc = woe_encode(c, "c_mktsegment", "pos", positive=1, smooth=0.5,
                     out_col="seg_woe")
    return enc.groupBy("c_mktsegment").agg(
        F.round(F.min("seg_woe"), 6).cast("double").alias("seg_woe"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
    )


@query(
    "conformal_interval_orders",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS g,
             CAST(trunc(CAST(o_totalprice AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS y,
             CAST((o_orderkey * 1103515245 + 12345)
                  % 2147483648 % 5 AS INT) AS fold
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    tr AS (SELECT * FROM d WHERE fold <= 2),
    model AS (
      SELECT g, CAST(trunc(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT)
        AS mu FROM tr GROUP BY g),
    gm AS (
      SELECT CAST(trunc(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT)
        AS gmu, count(*) AS n_train FROM tr),
    cal AS (
      SELECT abs(d.y - coalesce(m.mu, gm.gmu)) AS r
      FROM d LEFT JOIN model m ON m.g = d.g, gm WHERE d.fold = 3),
    nc AS (SELECT count(*) AS n FROM cal),
    q AS (
      SELECT min(r) AS qhat_u FROM (
        SELECT r, row_number() OVER (ORDER BY r DESC) AS rn FROM cal), nc
      WHERE rn <= nc.n
        - least(nc.n, CAST(ceil((nc.n + 1) * 0.9) AS BIGINT)) + 1),
    te AS (
      SELECT abs(d.y - coalesce(m.mu, gm.gmu)) AS r
      FROM d LEFT JOIN model m ON m.g = d.g, gm WHERE d.fold = 4)
    SELECT CAST(q.qhat_u / 1000000.0 AS DOUBLE) AS qhat,
           CAST(gm.n_train AS BIGINT) AS n_train,
           CAST(nc.n AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(avg(CAST(te.r <= q.qhat_u AS INT)) AS DOUBLE) AS coverage
    FROM te, q, nc, gm
    GROUP BY q.qhat_u, gm.n_train, nc.n
    """,
)
def conformal_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (ml/conformal.py; Vovk et
    al. 2005, Lei et al. JASA 2018) for order value under a
    group-conditional mean model: LCG splits (train/calibrate/test),
    exact micro-unit residuals, qhat as the conformal order statistic
    taken from the SMALL upper tail (TakeOrdered, not a full sort),
    distribution-free >= 90% expected test coverage.  Every number in
    the chain is exact integer arithmetic; the oracle replays it
    bit-for-bit."""
    from gofast_spark.ml.conformal import split_conformal_group_mean

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return split_conformal_group_mean(
        o, "o_orderpriority", "o_totalprice",
        id_col="o_orderkey", alpha=0.1, seed=0,
    )


_B2_ROUNDS = 2
# (sql expr, lo, hi, bins) — month of order date, bucketed customer key
_B2_SPECS = [
    ("CAST(date_part('month', o_orderdate) AS DOUBLE)", 1.0, 13.0, 12),
    ("CAST(o_custkey % 97 AS DOUBLE)", 0.0, 128.0, 32),
]


def _boost2_oracle() -> str:
    """Unrolled multi-feature boosting: per round, one histogram CTE
    PER FEATURE over the shared exact-integer residual state, a union
    of candidate splits, LIMIT-1 argmax on (gain DESC, feature,
    threshold), and a CASE-routed state update."""
    bin_exprs = []
    for x, lo, hi, b in _B2_SPECS:
        width = (hi - lo) / b
        bin_exprs.append(
            f"least(greatest(CAST(floor((({x}) - {lo}) / {width})"
            f" AS INT), 0), {b - 1})"
        )
    ctes = [f"""d AS (
      SELECT {bin_exprs[0]} AS b0, {bin_exprs[1]} AS b1,
             CAST(trunc(CAST(o_totalprice AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_custkey IS NOT NULL),
    base AS (
      SELECT CAST(trunc(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT)
        AS base_u3 FROM d),
    s0 AS (SELECT b0, b1, y, base_u3 AS pred FROM d, base)"""]
    for k in range(1, _B2_ROUNDS + 1):
        p = k - 1
        gparts = []
        for j, (_x, lo, hi, b) in enumerate(_B2_SPECS):
            width = (hi - lo) / b
            ctes.append(f"""h{k}f{j} AS (
      SELECT b{j} AS bin, count(*) AS n, sum(y - pred) AS s
      FROM s{p} GROUP BY b{j}),
    t{k}f{j} AS (SELECT sum(n) AS tn, sum(s) AS ts FROM h{k}f{j}),
    c{k}f{j} AS (
      SELECT bin,
             coalesce(sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nl,
             coalesce(sum(s) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sl
      FROM h{k}f{j})""")
            gparts.append(f"""
      SELECT {j} AS fidx,
             {lo} + CAST(bin AS DOUBLE) * {width} AS threshold,
             CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
               + CAST(ts - sl AS DOUBLE) * CAST(ts - sl AS DOUBLE)
                 / CAST(tn - nl AS DOUBLE) AS gain,
             CAST(trunc(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
               AS BIGINT) AS left_u3,
             CAST(trunc(CAST(ts - sl AS DOUBLE) / CAST(tn - nl AS DOUBLE))
               AS BIGINT) AS right_u3,
             bin AS split_bin
      FROM c{k}f{j}, t{k}f{j} WHERE nl > 0 AND tn - nl > 0""")
        ctes.append(f"""u{k} AS ({" UNION ALL ".join(gparts)}),
    best{k} AS (
      SELECT * FROM u{k} ORDER BY gain DESC, fidx, threshold LIMIT 1),
    s{k} AS (
      SELECT s{p}.b0, s{p}.b1, s{p}.y,
             s{p}.pred + CASE WHEN (best{k}.fidx = 0
                                    AND s{p}.b0 < best{k}.split_bin)
                               OR (best{k}.fidx = 1
                                    AND s{p}.b1 < best{k}.split_bin)
                              THEN best{k}.left_u3
                              ELSE best{k}.right_u3 END AS pred
      FROM s{p}, best{k})""")
    body = ",\n    ".join(ctes)
    names = ["'o_month'", "'custkey_mod'"]
    selects = [
        "SELECT CAST(0 AS INT) AS round, CAST(NULL AS VARCHAR) AS feature,"
        " CAST(NULL AS DOUBLE) AS threshold, base_u3 AS left_u3,"
        " base_u3 AS right_u3 FROM base"
    ]
    for k in range(1, _B2_ROUNDS + 1):
        selects.append(
            f"SELECT CAST({k} AS INT),"
            f" CASE WHEN fidx = 0 THEN {names[0]} ELSE {names[1]} END,"
            f" threshold, left_u3, right_u3 FROM best{k}"
        )
    return f"""
    WITH {body}
    {" UNION ALL ".join(selects)}
    """


@query("boosted_stumps_2f_orders", oracle=_boost2_oracle())
def boosted_stumps_2f_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature boosting rounds (ml/boost.py
    fit_boosted_stumps_multi): each round evaluates the histogram of
    BOTH features (order month, bucketed customer key) and takes the
    globally best variance-reduction split — per-node feature selection,
    the actual GBDT step — with the same exact milli-unit integer
    state, all in one lazy plan.  The oracle unrolls both rounds
    including the cross-feature argmax."""
    from gofast_spark.ml.boost import fit_boosted_stumps_multi

    o = _t(spark, sf_dir, "orders").select(
        F.month("o_orderdate").cast("double").alias("o_month"),
        (F.col("o_custkey") % 97).cast("double").alias("custkey_mod"),
        F.col("o_totalprice").alias("price"),
    )
    return fit_boosted_stumps_multi(
        o,
        [("o_month", 1.0, 13.0, 12), ("custkey_mod", 0.0, 128.0, 32)],
        "price",
        rounds=_B2_ROUNDS,
    )


@query(
    "item_cosine_topk_lineitem",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    s AS (SELECT it, count(*) AS n_it FROM b GROUP BY it),
    f AS (SELECT * FROM s WHERE n_it >= 5),
    p AS (SELECT bk, b.it, n_it FROM b JOIN f USING (it)),
    pr AS (
      SELECT l.it AS item_a, r.it AS item_b, l.n_it AS n_a,
             r.n_it AS n_b, count(*) AS n_both
      FROM p l JOIN p r ON l.bk = r.bk AND l.it < r.it
      GROUP BY 1, 2, 3, 4),
    sym AS (
      SELECT item_a AS item, item_b AS neighbor, n_a AS n_item,
             n_b AS n_neighbor, n_both FROM pr
      UNION ALL
      SELECT item_b, item_a, n_b, n_a, n_both FROM pr),
    c AS (
      SELECT item, neighbor, n_item, n_neighbor, n_both,
             CAST(n_both AS DOUBLE)
               / sqrt(CAST(n_item AS DOUBLE) * CAST(n_neighbor AS DOUBLE))
               AS cosine
      FROM sym),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY item
               ORDER BY cosine DESC, neighbor) AS rnk
      FROM c)
    SELECT item, neighbor, CAST(n_item AS BIGINT) AS n_item,
           CAST(n_neighbor AS BIGINT) AS n_neighbor,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(round(cosine, 6) AS DOUBLE) AS cosine,
           CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """,
)
def item_cosine_topk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item CF neighbors (ml/recommend.py; Linden et al., IEEE
    Internet Computing 2003): top-3 cosine neighbors per part over
    order baskets.  Apriori-pruned pair join (min 5 baskets/item), all
    similarities from exact integer co-counts, per-item ranking window
    partitioned by item — the neighbor table for any catalog size in
    one pruned join + one vocabulary-partitioned window."""
    from gofast_spark.ml.recommend import item_similarity_topk

    li = _t(spark, sf_dir, "lineitem")
    return item_similarity_topk(
        li, "l_orderkey", "l_partkey", min_count=5, k=3
    ).select(
        "item", "neighbor", "n_item", "n_neighbor", "n_both",
        F.round("cosine", 6).cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def _stacking_oracle() -> str:
    """Replays the fit_stacking_ols chain: integer milli-unit moments,
    2x2-Cramer ridge bases, ANALYTIC meta moments, the shared
    _det3_sql Cramer tree, and the moment-identity RMSE — every
    expression in the same fixed order as the Python driver solve."""
    lam = "1000.0"
    A = [
        ["n", "sp1", "sp2"],
        ["sp1", "sp11", "sp12"],
        ["sp2", "sp12", "sp22"],
    ]
    b = ["sy", "sp1y", "sp2y"]
    det = _det3_sql(A)
    ws = []
    for j in range(3):
        Aj = [[b[i] if c == j else A[i][c] for c in range(3)]
              for i in range(3)]
        ws.append(f"({_det3_sql(Aj)}) / ({det})")
    return f"""
    WITH q AS (
      SELECT CAST(floor(CAST(l_quantity AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS x1,
             CAST(floor(CAST(l_discount AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS x2,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1000.0 + 0.5)
               AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) / 1000.0 AS sx1,
             CAST(sum(x2) AS DOUBLE) / 1000.0 AS sx2,
             CAST(sum(y) AS DOUBLE) / 1000.0 AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) / 1000000.0
               AS sx1x1,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) / 1000000.0
               AS sx2x2,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) / 1000000.0
               AS sx1x2,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) / 1000000.0
               AS sx1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) / 1000000.0
               AS sx2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) / 1000000.0
               AS syy
      FROM q),
    bases AS (
      SELECT *,
             (sy * (sx1x1 + {lam}) - sx1 * sx1y)
               / (n * (sx1x1 + {lam}) - sx1 * sx1) AS a1,
             (n * sx1y - sy * sx1)
               / (n * (sx1x1 + {lam}) - sx1 * sx1) AS b1,
             (sy * (sx2x2 + {lam}) - sx2 * sx2y)
               / (n * (sx2x2 + {lam}) - sx2 * sx2) AS a2,
             (n * sx2y - sy * sx2)
               / (n * (sx2x2 + {lam}) - sx2 * sx2) AS b2
      FROM mom),
    meta AS (
      SELECT *,
             n * a1 + b1 * sx1 AS sp1,
             n * a2 + b2 * sx2 AS sp2,
             n * a1 * a1 + 2.0 * a1 * b1 * sx1 + b1 * b1 * sx1x1 AS sp11,
             n * a2 * a2 + 2.0 * a2 * b2 * sx2 + b2 * b2 * sx2x2 AS sp22,
             n * a1 * a2 + a1 * b2 * sx2 + a2 * b1 * sx1
               + b1 * b2 * sx1x2 AS sp12,
             a1 * sy + b1 * sx1y AS sp1y,
             a2 * sy + b2 * sx2y AS sp2y
      FROM bases),
    w AS (
      SELECT *, {ws[0]} AS w0, {ws[1]} AS w1, {ws[2]} AS w2 FROM meta),
    fin AS (
      SELECT *,
             syy - 2.0 * (w0 * sy + w1 * sp1y + w2 * sp2y)
                 + (w0 * (n * w0 + sp1 * w1 + sp2 * w2)
                    + w1 * (sp1 * w0 + sp11 * w1 + sp12 * w2)
                    + w2 * (sp2 * w0 + sp12 * w1 + sp22 * w2)) AS sse
      FROM w)
    SELECT CAST(round(a1, 6) AS DOUBLE) AS a1,
           CAST(round(b1, 6) AS DOUBLE) AS b1,
           CAST(round(a2, 6) AS DOUBLE) AS a2,
           CAST(round(b2, 6) AS DOUBLE) AS b2,
           CAST(round(w0, 6) AS DOUBLE) AS w0,
           CAST(round(w1, 6) AS DOUBLE) AS w1,
           CAST(round(w2, 6) AS DOUBLE) AS w2,
           CAST(round(sqrt(sse / n), 4) AS DOUBLE) AS rmse,
           CAST(n AS BIGINT) AS n
    FROM fin
    """


@query("stacking_ols_lineitem", oracle=_stacking_oracle())
def stacking_ols_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form stacking regressor (ml/stacking.py; ref
    BenchmarkRegressor, gofast/estimators/benchmark.py; Wolpert 1992):
    two single-feature ridge bases + OLS meta, where every meta moment
    derives ANALYTICALLY from the one raw moment aggregate — the whole
    two-level ensemble is one scan + a 1-row fixed-order Cramer
    solve, replayed end-to-end by the oracle."""
    from gofast_spark.ml.stacking import fit_stacking_ols

    li = _t(spark, sf_dir, "lineitem")
    out = fit_stacking_ols(
        li, "l_quantity", "l_discount", "l_extendedprice",
        base_ridge=1000.0,
    )
    return out.select(
        F.round("a1", 6).cast("double").alias("a1"),
        F.round("b1", 6).cast("double").alias("b1"),
        F.round("a2", 6).cast("double").alias("a2"),
        F.round("b2", 6).cast("double").alias("b2"),
        F.round("w0", 6).cast("double").alias("w0"),
        F.round("w1", 6).cast("double").alias("w1"),
        F.round("w2", 6).cast("double").alias("w2"),
        F.round("rmse", 4).cast("double").alias("rmse"),
        "n",
    )


def _huber_oracle(delta: float, n_iter: int) -> str:
    """Layered IRLS replay for fit_huber_regression: an OLS start CTE,
    then per iteration a Huber-weighted moment aggregate + the same
    fixed-order Cramer 2x2 as the Spark driver loop."""
    dl = f"{delta!r}"
    layers = [
        """m0 AS (
      SELECT sum(1.0) AS sw, sum(1.0 * x) AS swx, sum(1.0 * x * x) AS swxx,
             sum(1.0 * y) AS swy, sum(1.0 * x * y) AS swxy, count(*) AS n
      FROM d)""",
        """w0 AS (
      SELECT (swy * swxx - swx * swxy) / (sw * swxx - swx * swx) AS c,
             (sw * swxy - swy * swx) / (sw * swxx - swx * swx) AS b,
             n FROM m0)""",
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        layers.append(f"""t{k} AS (
      SELECT x, y,
             CASE WHEN abs(y - ({prev}.c + {prev}.b * x)) <= {dl} THEN 1.0
                  ELSE {dl} / abs(y - ({prev}.c + {prev}.b * x)) END AS wt
      FROM d, {prev})""")
        layers.append(f"""m{k} AS (
      SELECT sum(wt) AS sw, sum(wt * x) AS swx, sum(wt * x * x) AS swxx,
             sum(wt * y) AS swy, sum(wt * x * y) AS swxy, count(*) AS n
      FROM t{k})""")
        layers.append(f"""w{k} AS (
      SELECT (swy * swxx - swx * swxy) / (sw * swxx - swx * swx) AS c,
             (sw * swxy - swy * swx) / (sw * swxx - swx * swx) AS b,
             n FROM m{k})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    {cte}
    SELECT CAST(round(c, 4) AS DOUBLE) AS intercept,
           CAST(round(b, 4) AS DOUBLE) AS slope,
           CAST(n AS BIGINT) AS n
    FROM {prev}
    """


@query("huber_regression_lineitem", oracle=_huber_oracle(10000.0, 3))
def huber_regression_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust price-on-quantity regression by fixed-threshold Huber
    IRLS (ml/regression.py fit_huber_regression; Huber 1964, Holland &
    Welsch 1977): OLS start + 3 reweighted layers, ONE moment
    aggregate per layer with a driver-side Cramer 2x2 between jobs —
    the oracle replays the entire trajectory as CTE layers."""
    from gofast_spark.ml.regression import fit_huber_regression

    li = _t(spark, sf_dir, "lineitem")
    m = fit_huber_regression(
        li, "l_quantity", "l_extendedprice", delta=10000.0, n_iter=3
    )
    return spark.createDataFrame(
        [(round(m["intercept"], 4), round(m["slope"], 4), m["n"])],
        "intercept double, slope double, n bigint",
    )


def _gmm2_oracle(n_iter: int = 3) -> str:
    """Layered EM replay for fit_gmm2: moment-based init CTE, then per
    iteration a responsibility-weighted moment aggregate + the same
    closed-form M-step arithmetic as the Spark driver loop."""

    def pdf(mc: str, vc: str) -> str:
        return (
            f"(exp(-(x - {mc}) * (x - {mc}) / (2.0 * {vc}))"
            f" / sqrt(2.0 * pi() * {vc}))"
        )

    layers = [
        """init AS (
      SELECT avg(x) AS m, greatest(var_pop(x), 0.000001) AS v,
             count(*) AS n FROM d)""",
        """p0 AS (
      SELECT 0.5 AS pi1, m - sqrt(v) AS m1, v AS v1,
             m + sqrt(v) AS m2, v AS v2, n FROM init)""",
    ]
    prev = "p0"
    for k in range(1, n_iter + 1):
        p1 = f"({prev}.pi1 * {pdf(f'{prev}.m1', f'{prev}.v1')})"
        p2 = f"((1.0 - {prev}.pi1) * {pdf(f'{prev}.m2', f'{prev}.v2')})"
        layers.append(f"""a{k} AS (
      SELECT sum(r1) AS w1, sum(r1 * x) AS sx1, sum(r1 * x * x) AS sxx1,
             sum(x) AS sx, sum(x * x) AS sxx, max(n) AS n
      FROM (SELECT x, {p1} / ({p1} + {p2}) AS r1, {prev}.n AS n
            FROM d, {prev}))""")
        layers.append(f"""p{k} AS (
      SELECT w1 / n AS pi1,
             sx1 / w1 AS m1,
             greatest(sxx1 / w1 - (sx1 / w1) * (sx1 / w1), 0.000001) AS v1,
             (sx - sx1) / (n - w1) AS m2,
             greatest((sxx - sxx1) / (n - w1)
                      - ((sx - sx1) / (n - w1)) * ((sx - sx1) / (n - w1)),
                      0.000001) AS v2,
             n
      FROM a{k})""")
        prev = f"p{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
      FROM orders WHERE o_totalprice IS NOT NULL),
    {cte}
    SELECT CAST(round(pi1, 5) AS DOUBLE) AS pi,
           CAST(round(m1, 5) AS DOUBLE) AS mean1,
           CAST(round(v1, 5) AS DOUBLE) AS var1,
           CAST(round(m2, 5) AS DOUBLE) AS mean2,
           CAST(round(v2, 5) AS DOUBLE) AS var2,
           CAST(n AS BIGINT) AS n
    FROM {prev}
    """


@query("gmm2_em_orders", oracle=_gmm2_oracle(3))
def gmm2_em_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture EM on scaled order totals
    (ml/mixture_em.py fit_gmm2; Dempster-Laird-Rubin 1977): moment
    -based deterministic init, 3 EM layers, each ONE responsibility
    -weighted moment aggregate with closed-form driver-side M-steps —
    the oracle replays every layer's E and M arithmetic."""
    from gofast_spark.ml.mixture_em import fit_gmm2

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x")
    ).where(F.col("x").isNotNull())
    m = fit_gmm2(o, "x", n_iter=3)
    return spark.createDataFrame(
        [(
            round(m["pi"], 5), round(m["mean1"], 5), round(m["var1"], 5),
            round(m["mean2"], 5), round(m["var2"], 5), m["n"],
        )],
        "pi double, mean1 double, var1 double, mean2 double, "
        "var2 double, n bigint",
    )


def _poisson_oracle(n_iter: int = 4) -> str:
    """Layered Newton replay for fit_poisson_regression (log link):
    per iteration one exp-weighted moment aggregate + the fixed-order
    Cramer 2x2 update, exactly the _logit_oracle recipe."""
    layers = [
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS c, CAST(0.0 AS DOUBLE) AS b)"
    ]
    prev = "w0"
    for k in range(1, n_iter + 1):
        mu = f"exp({prev}.c + {prev}.b * d.x)"
        layers.append(f"""a{k} AS (
      SELECT sum({mu}) AS h00,
             sum({mu} * d.x) AS h01,
             sum({mu} * d.x * d.x) AS h11,
             sum(d.y - {mu}) AS g0,
             sum((d.y - {mu}) * d.x) AS g1,
             count(*) AS n
      FROM d, {prev})""")
        layers.append(f"""w{k} AS (
      SELECT {prev}.c + (g0 * h11 - h01 * g1) / (h00 * h11 - h01 * h01) AS c,
             {prev}.b + (h00 * g1 - g0 * h01) / (h00 * h11 - h01 * h01) AS b,
             a{k}.n AS n
      FROM a{k}, {prev})""")
        prev = f"w{k}"
    cte = ",\n    ".join(layers)
    return f"""
    WITH d AS (
      SELECT CAST(count(*) AS DOUBLE) AS y,
             CAST(max(o.o_totalprice) AS DOUBLE) / 100000.0 AS x
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey),
    {cte}
    SELECT CAST(round(c, 5) AS DOUBLE) AS intercept,
           CAST(round(b, 5) AS DOUBLE) AS slope,
           CAST(n AS BIGINT) AS n
    FROM {prev}
    """


@query("poisson_regression_orders", oracle=_poisson_oracle(4))
def poisson_regression_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression of per-order item count on scaled total
    price (ml/regression.py fit_poisson_regression; McCullagh & Nelder
    1989): log link, 4 Newton layers, ONE exp-weighted moment
    aggregate per layer — the oracle replays the whole trajectory."""
    from gofast_spark.ml.regression import fit_poisson_regression

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    d = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).cast("double").alias("y"),
            (F.max("o_totalprice").cast("double") / 100000.0).alias("x"),
        )
    )
    m = fit_poisson_regression(d, "x", "y", n_iter=4)
    return spark.createDataFrame(
        [(round(m["intercept"], 5), round(m["slope"], 5), m["n"])],
        "intercept double, slope double, n bigint",
    )


@query(
    "association_rules_lineitem",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk,
             CAST(l_partkey % 199 AS BIGINT) AS it
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    s AS (SELECT it, count(*) AS n_it FROM b GROUP BY it),
    f AS (SELECT * FROM s WHERE n_it >= 5),
    p AS (
      SELECT l.it AS item_a, r.it AS item_b,
             any_value(lf.n_it) AS n_a, any_value(rf.n_it) AS n_b,
             count(*) AS n_pair
      FROM b l JOIN b r ON r.bk = l.bk AND l.it < r.it
      JOIN f lf ON lf.it = l.it
      JOIN f rf ON rf.it = r.it
      GROUP BY l.it, r.it
      HAVING count(*) >= 5),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    topp AS (
      SELECT item_a, item_b, n_pair, n_a, n_b,
             CAST(n_baskets AS DOUBLE) * CAST(n_pair AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift,
             n_baskets
      FROM p, nb
      ORDER BY n_pair DESC, item_a, item_b LIMIT 20),
    rules AS (
      SELECT item_a AS antecedent, item_b AS consequent,
             n_pair, n_a AS n_ant, n_b AS n_cons, lift, n_baskets
      FROM topp
      UNION ALL
      SELECT item_b, item_a, n_pair, n_b, n_a, lift, n_baskets
      FROM topp)
    SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_ant AS BIGINT) AS n_ant, CAST(n_cons AS BIGINT) AS n_cons,
           CAST(CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS DOUBLE)
             AS support,
           CAST(CAST(n_pair AS DOUBLE) / CAST(n_ant AS DOUBLE) AS DOUBLE)
             AS confidence,
           CAST(lift AS DOUBLE) AS lift
    FROM rules
    ORDER BY confidence DESC, antecedent, consequent
    """,
)
def association_rules_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules over the frequent_pairs_lineitem
    baskets (ml/itemsets.py association_rules; Agrawal-Imielinski
    -Swami 1993): the Apriori-pruned pair mine reused unchanged, rule
    expansion a constant-sized two-way union with exact-integer
    support/confidence divisions, confidence-ordered."""
    from gofast_spark.ml.itemsets import association_rules

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 199).alias("product")
    )
    return association_rules(
        li, "l_orderkey", "product", min_support=5, top_pairs=20
    )


def _silhouette_oracle() -> str:
    """The kmeans unroll (same as _kmeans_oracle) feeding the
    simplified-silhouette readout — certifying the two ops CHAIN."""
    xs = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000 + 0.5)"
        f" AS BIGINT) AS x{i}"
        for i in range(_KM_D)
    )
    ctes = [f"""pts AS (
      SELECT vec_id AS id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv,
             {xs}
      FROM embeddings WHERE vec_id IS NOT NULL),
    c0 AS (
      SELECT row_number() OVER (ORDER BY hv) - 1 AS cid,
             {", ".join(f"x{i} AS k{i}" for i in range(_KM_D))}
      FROM (SELECT * FROM pts ORDER BY hv LIMIT {_KM_K}))"""]
    dist = " + ".join(
        f"(p.x{i} - c.k{i}) * (p.x{i} - c.k{i})" for i in range(_KM_D)
    )
    for t in range(1, _KM_ITER + 1):
        p = t - 1
        ctes.append(f"""a{t} AS (
      SELECT id, {", ".join(f"x{i}" for i in range(_KM_D))}, cid FROM (
        SELECT p.*, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, c{p} c) WHERE rn = 1),
    u{t} AS (
      SELECT cid,
             {", ".join(
                 f"CAST(trunc(CAST(sum(x{i}) AS DOUBLE) / count(*))"
                 f" AS BIGINT) AS k{i}" for i in range(_KM_D))},
             count(*) AS n
      FROM a{t} GROUP BY cid),
    c{t} AS (
      SELECT c{p}.cid,
             {", ".join(
                 f"coalesce(u{t}.k{i}, c{p}.k{i}) AS k{i}"
                 for i in range(_KM_D))},
             coalesce(u{t}.n, 0) AS n
      FROM c{p} LEFT JOIN u{t} USING (cid))""")
    fin = f"c{_KM_ITER}"
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    asg AS (
      SELECT id, cid, d2 FROM (
        SELECT p.id, c.cid, {dist} AS d2,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY {dist}, c.cid) AS rn
        FROM pts p, {fin} c) WHERE rn = 1),
    b2 AS (
      SELECT p.id, min({dist}) AS b2
      FROM pts p, {fin} c, asg
      WHERE asg.id = p.id AND c.cid <> asg.cid
      GROUP BY p.id),
    s AS (
      SELECT asg.cid,
             CAST(floor(
               (sqrt(CAST(b2 AS DOUBLE)) / 1000000.0
                - sqrt(CAST(d2 AS DOUBLE)) / 1000000.0)
               / greatest(sqrt(CAST(d2 AS DOUBLE)) / 1000000.0,
                          sqrt(CAST(b2 AS DOUBLE)) / 1000000.0)
               * 1e9 + 0.5) AS BIGINT) AS su
      FROM asg JOIN b2 ON b2.id = asg.id)
    SELECT cid, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(su) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
             AS mean_silhouette
    FROM s GROUP BY cid
    """


@query("silhouette_embeddings", oracle=_silhouette_oracle())
def silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette of the exact-Lloyd clustering
    (ml/kmeans_exact.py simplified_silhouette; Rousseeuw 1987,
    centroid-based form) — points x k distances only, exact integer
    squares, nano-unit-exact means; the oracle replays the Lloyd
    unroll AND the silhouette chain."""
    from gofast_spark.ml.kmeans_exact import (
        fit_kmeans_lloyd,
        simplified_silhouette,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[
            F.element_at("embedding", i + 1).alias(f"e{i}")
            for i in range(_KM_D)
        ],
    )
    cent = fit_kmeans_lloyd(
        e, "vec_id", [f"e{i}" for i in range(_KM_D)], _KM_K,
        iterations=_KM_ITER,
    )
    return simplified_silhouette(
        e, "vec_id", [f"e{i}" for i in range(_KM_D)], cent
    )


_EN_L1, _EN_L2, _EN_SWEEPS = 0.02, 0.1, 8


def _enet_oracle() -> str:
    """Unrolled glmnet coordinate-descent chain over the 1-row
    correlation frame (single reference per CTE level)."""
    cols = "n, r12, r1y, r2y, mux1, mux2, muy, sdx1, sdx2, sdy"

    def soft(z: str) -> str:
        return (f"sign({z}) * greatest(abs({z}) - {_EN_L1}, 0.0)"
                f" / {1.0 + _EN_L2!r}")

    ctes = [f"""d AS (
      SELECT CAST(floor(CAST(l_quantity AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS x1,
             CAST(floor(CAST(l_discount AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS x2,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1e2 + 0.5)
               AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    m AS (
      SELECT count(*) AS n,
             sum(CAST(x1 AS HUGEINT)) AS sx1,
             sum(CAST(x2 AS HUGEINT)) AS sx2,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
             sum(CAST(x2 AS HUGEINT) * x2) AS sx2x2,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(x1 AS HUGEINT) * x2) AS sx1x2,
             sum(CAST(x1 AS HUGEINT) * y) AS sx1y,
             sum(CAST(x2 AS HUGEINT) * y) AS sx2y
      FROM d),
    base AS (
      SELECT n,
             CAST(n * sx1x2 - sx1 * sx2 AS DOUBLE)
               / sqrt(CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)
                      * CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE)) AS r12,
             CAST(n * sx1y - sx1 * sy AS DOUBLE)
               / sqrt(CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS r1y,
             CAST(n * sx2y - sx2 * sy AS DOUBLE)
               / sqrt(CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS r2y,
             CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mux1,
             CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mux2,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS muy,
             sqrt(CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)
                  / CAST(n * n AS DOUBLE)) / 1e2 AS sdx1,
             sqrt(CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE)
                  / CAST(n * n AS DOUBLE)) / 1e2 AS sdx2,
             sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                  / CAST(n * n AS DOUBLE)) / 1e2 AS sdy
      FROM m),
    c0 AS (SELECT {cols}, 0.0 AS b1, 0.0 AS b2 FROM base)"""]
    for k in range(1, _EN_SWEEPS + 1):
        ctes.append(f"""c{k}a AS (
      SELECT {cols}, {soft("r1y - r12 * b2")} AS b1, b2
      FROM c{k - 1}),
    c{k} AS (
      SELECT {cols}, b1, {soft("r2y - r12 * b1")} AS b2
      FROM c{k}a)""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT b1 AS beta1_std, b2 AS beta2_std,
           b1 * sdy / sdx1 AS w1,
           b2 * sdy / sdx2 AS w2,
           muy - b1 * sdy / sdx1 * mux1 - b2 * sdy / sdx2 * mux2
             AS intercept,
           CAST(n AS BIGINT) AS n
    FROM c{_EN_SWEEPS}
    """


@query("elastic_net_cd_lineitem", oracle=_enet_oracle())
def elastic_net_cd_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic-net price ~ (quantity, discount) by unrolled coordinate
    descent (ml/regression.py elastic_net_cd_2f; Friedman, Hastie &
    Tibshirani 2010) — one exact-moment aggregate, then 2x8 chained
    1-row soft-threshold projections; completes the OLS/ridge/huber/
    logistic/poisson regression family with an L1 path."""
    from gofast_spark.ml.regression import elastic_net_cd_2f

    return elastic_net_cd_2f(
        _t(spark, sf_dir, "lineitem"),
        "l_quantity", "l_discount", "l_extendedprice",
        l1=_EN_L1, l2=_EN_L2, sweeps=_EN_SWEEPS,
    )


def _lda_oracle() -> str:
    """Replay of the fixed-order 2x2 closed-form solve over exact
    micro-unit moments (ml/discriminant.py fisher_lda_binary)."""
    mean = {
        (i, c): f"(CAST(s{i}_{c} AS DOUBLE) / 1000000.0"
                f" / CAST(n{c} AS DOUBLE))"
        for i in (1, 2) for c in (0, 1)
    }
    sc = {
        (ij, c): f"(CAST(s{ij}_{c} AS DOUBLE) / 1000000.0"
                 f" - CAST(n{c} AS DOUBLE) * {mean[(int(ij[0]), c)]}"
                 f" * {mean[(int(ij[1]), c)]})"
        for ij in ("11", "12", "22") for c in (0, 1)
    }
    a = f"({sc[('11', 0)]} + {sc[('11', 1)]})"
    b = f"({sc[('12', 0)]} + {sc[('12', 1)]})"
    d = f"({sc[('22', 0)]} + {sc[('22', 1)]})"
    det = f"({a} * {d} - {b} * {b})"
    d1 = f"({mean[(1, 1)]} - {mean[(1, 0)]})"
    d2 = f"({mean[(2, 1)]} - {mean[(2, 0)]})"
    w1 = f"(({d} * {d1} - {b} * {d2}) / {det})"
    w2 = f"(({a} * {d2} - {b} * {d1}) / {det})"
    thr = (f"(({w1} * ({mean[(1, 0)]} + {mean[(1, 1)]})"
           f" + {w2} * ({mean[(2, 0)]} + {mean[(2, 1)]})) / 2.0)")
    moms = []
    for c in (0, 1):
        m = f"CAST(CAST(l_returnflag = 'R' AS INT) = {c} AS BIGINT)"
        # floor() on the quantized value: Spark's bigint cast
        # TRUNCATES while DuckDB's ROUNDS (r9 parity note) — floor
        # matches truncation on this positive domain
        q1 = ("CAST(floor(CAST(l_quantity AS DOUBLE) * 1000000 + 0.5)"
              " AS BIGINT)")
        q2 = ("CAST(floor(CAST(l_discount AS DOUBLE) * 1000000 + 0.5)"
              " AS BIGINT)")
        q11 = ("CAST(floor(CAST(l_quantity AS DOUBLE)"
               " * CAST(l_quantity AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
        q12 = ("CAST(floor(CAST(l_quantity AS DOUBLE)"
               " * CAST(l_discount AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
        q22 = ("CAST(floor(CAST(l_discount AS DOUBLE)"
               " * CAST(l_discount AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
        moms += [
            f"CAST(sum({m}) AS BIGINT) AS n{c}",
            f"sum({m} * {q1}) AS s1_{c}", f"sum({m} * {q2}) AS s2_{c}",
            f"sum({m} * {q11}) AS s11_{c}", f"sum({m} * {q12}) AS s12_{c}",
            f"sum({m} * {q22}) AS s22_{c}",
        ]
    cols = ",\n             ".join(moms)
    return f"""
    WITH mo AS (
      SELECT {cols}
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL)
    SELECT n0, n1, {w1} AS w1, {w2} AS w2, {thr} AS threshold
    FROM mo
    """


@query("lda_fisher_lineitem", oracle=_lda_oracle())
def lda_fisher_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's linear discriminant, closed form in ONE aggregate
    (ml/discriminant.py fisher_lda_binary; Fisher, Ann. Eugenics 1936;
    the reference reaches discriminant estimators through its sklearn
    model-search dispatch, gofast/models/optimize.py): returned-flag
    class from (quantity, discount), w = Sw^-1 (mu1 - mu0) by the
    fixed-order 2x2 inverse over micro-unit-exact per-class moments —
    every double downstream of the same integers in both engines, so
    w and the midpoint threshold present UNROUNDED."""
    from gofast_spark.ml.discriminant import fisher_lda_binary

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        "l_quantity", "l_discount",
    )
    return fisher_lda_binary(li, ["l_quantity", "l_discount"], "y")


def _halving_oracle() -> str:
    """Unrolled successive-halving replay: per-(candidate, fold) RMSE
    units once, then one row_number elimination per rung."""
    w0, w1, w2 = _cramer_w_sql("ls.lam")
    vals = ", ".join(
        f"({j}, {float(v)!r})" for j, v in enumerate(_RS_GRID)
    )
    us = ", ".join(
        f"max(CASE WHEN fold = {f} THEN su4 END) AS u{f}"
        for f in range(_CV_K)
    )
    n_grid = len(_RS_GRID)
    import math

    rungs = int(math.ceil(math.log2(n_grid)))
    ctes = [f"""{_CV_MOMENT_CTES},
    tl(j, lam) AS (VALUES {vals}),
    ls AS (SELECT j, CAST(lam AS DOUBLE) AS lam FROM tl),
    w AS (
      SELECT ls.j, ls.lam, tr.fold, {w0} AS w0, {w1} AS w1, {w2} AS w2
      FROM tr, ls),
    s AS (
      SELECT w.j, w.lam, m.fold,
             CAST(floor(sqrt(({_sse_sql()}) / m.n) * 1e4 + 0.5) AS BIGINT)
               AS su4
      FROM w JOIN m ON m.fold = w.fold),
    q AS (SELECT j, lam, {us} FROM s GROUP BY j, lam)"""]
    prev = "q"
    alive = n_grid
    for r in range(rungs):
        score = " + ".join(f"u{f}" for f in range(r + 1))
        keep = max(1, alive // 2)
        ctes.append(f"""r{r} AS (
      SELECT j, lam, u0{"".join(", u" + str(f) for f in range(1, _CV_K))},
             {score} AS score,
             row_number() OVER (ORDER BY {score}, j) <= {keep} AS kept
      FROM {prev}{"" if r == 0 else " WHERE kept"})""")
        prev = f"r{r}"
        alive = keep
    body = ",\n    ".join(ctes)
    rows = "\n    UNION ALL ".join(
        f"SELECT {r} AS rung, CAST(j AS INT) AS grid_j,"
        f" CAST(lam AS DOUBLE) AS lam, score AS score_u4, kept FROM r{r}"
        for r in range(rungs)
    )
    return f"""
    WITH {body}
    {rows}
    """


@query("successive_halving_ridge_lineitem", oracle=_halving_oracle())
def successive_halving_ridge_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Successive-halving search over the ridge grid (ml/selection.py
    successive_halving_ridge; Karnin, Koren & Somekh ICML 2013;
    Jamieson & Talwalkar AISTATS 2016 — Hyperband's elimination core;
    completes the reference's search-family parity alongside grid /
    random / SMBO, gofast/models/optimize.py): 16 candidates halve
    over 4 rungs on a growing fold budget, every rung scored from the
    SAME single-scan fold moments with integer 1e-4-unit rung scores
    and (score, index) elimination ranks — the whole schedule replays
    relationally."""
    from gofast_spark.ml.selection import successive_halving_ridge

    li = _t(spark, sf_dir, "lineitem")
    return successive_halving_ridge(
        li, ["l_quantity", "l_discount"], "l_extendedprice",
        id_col="l_orderkey", grid=_RS_GRID, k=_CV_K, seed=_CV_SEED,
    )


def _knn_oracle(dims: int = 8, k: int = 5) -> str:
    coords = ",\n             ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0"
        f" + 0.5) AS BIGINT) AS e{i}"
        for i in range(dims)
    )
    qcols = ", ".join(f"e{i} AS q{i}" for i in range(dims))
    dist = " + ".join(
        f"(q.q{i} - t.e{i}) * (q.q{i} - t.e{i})" for i in range(dims)
    )
    return f"""
    WITH base AS (
      SELECT vec_id AS id, label,
             {coords}
      FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
    q AS (
      SELECT id AS qid, label AS qlabel, {qcols}
      FROM base WHERE id % 10 = 0),
    t AS (SELECT * FROM base WHERE id % 10 <> 0),
    pairs AS (
      SELECT t.id, t.label, q.qid, q.qlabel, {dist} AS dist
      FROM t, q),
    nn AS (
      SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY dist, id) AS rnk
      FROM pairs),
    votes AS (
      SELECT qid, qlabel, label, count(*) AS c
      FROM nn WHERE rnk <= {k} GROUP BY 1, 2, 3),
    win AS (
      SELECT qid, qlabel, label, c,
             row_number() OVER (PARTITION BY qid
               ORDER BY c DESC, label) AS vr
      FROM votes)
    SELECT qid AS id, qlabel AS label, label AS pred,
           CAST(c AS BIGINT) AS votes
    FROM win WHERE vr = 1 ORDER BY id
    """


@query("knn_classify_embeddings", oracle=_knn_oracle(8, 5))
def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote classification of every 10th embedding
    against the rest (ml/knn.py knn_classify; Fix & Hodges 1951,
    Cover & Hart 1967) — the exact brute-force baseline the IVF/PQ/JL
    entries approximate: broadcast query probes, one corpus scan,
    integer micro-unit distances, integer tie-broken ranks and
    votes."""
    from gofast_spark.ml.knn import knn_classify

    e = _t(spark, sf_dir, "embeddings")
    return knn_classify(
        e, "vec_id", "embedding", "label", dims=8, k=5, holdout_mod=10
    )


def _retrieval_oracle(dims: int = 8, k: int = 10, p_at: int = 5) -> str:
    coords = ",\n             ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0"
        f" + 0.5) AS BIGINT) AS e{i}"
        for i in range(dims)
    )
    qcols = ", ".join(f"e{i} AS q{i}" for i in range(dims))
    dist = " + ".join(
        f"(q.q{i} - t.e{i}) * (q.q{i} - t.e{i})" for i in range(dims)
    )
    return f"""
    WITH base AS (
      SELECT vec_id AS id, label,
             {coords}
      FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
    q AS (
      SELECT id AS qid, label AS qlabel, {qcols}
      FROM base WHERE id % 10 = 0),
    t AS (SELECT * FROM base WHERE id % 10 <> 0),
    pairs AS (
      SELECT t.id, t.label, q.qid, q.qlabel, {dist} AS dist
      FROM t, q),
    nn AS (
      SELECT qid, qlabel,
             CAST(label = qlabel AS BIGINT) AS rel,
             row_number() OVER (PARTITION BY qid
               ORDER BY dist, id) AS rnk
      FROM pairs QUALIFY rnk <= {k}),
    per_q AS (
      SELECT qid, qlabel,
             sum(CASE WHEN rnk <= {p_at} THEN rel ELSE 0 END)
               AS p_hits,
             sum(CAST(floor(CAST(rel AS DOUBLE)
                  / log2(CAST(rnk + 1 AS DOUBLE)) * 1000000000.0
                  + 0.5) AS BIGINT)) AS dcg_u,
             min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
      FROM nn GROUP BY 1, 2),
    n_rel AS (SELECT label, count(*) AS n_rel FROM t GROUP BY 1),
    ranks AS (
      SELECT CAST(i AS INT) AS i,
             CAST(floor(1.0 / log2(CAST(i + 1 AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS iterm
      FROM (SELECT unnest(range(1, {k + 1})) AS i)),
    idcg AS (
      SELECT i, sum(iterm) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS idcg_u
      FROM ranks),
    scored AS (
      SELECT per_q.*,
             CAST(least(n_rel.n_rel, {k}) AS INT) AS ideal_i
      FROM per_q JOIN n_rel ON per_q.qlabel = n_rel.label),
    final_q AS (
      SELECT p_hits,
             CASE WHEN first_rel IS NOT NULL
                  THEN CAST(floor(1.0 / CAST(first_rel AS DOUBLE)
                       * 1000000000.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS mrr_u,
             CAST(floor(CAST(dcg_u AS DOUBLE)
                  / CAST(idcg_u AS DOUBLE) * 1000000000.0 + 0.5)
               AS BIGINT) AS ndcg_u
      FROM scored JOIN idcg ON scored.ideal_i = idcg.i),
    agg AS (
      SELECT count(*) AS q, sum(p_hits) AS sp, sum(mrr_u) AS sm,
             sum(ndcg_u) AS sn
      FROM final_q)
    SELECT CAST(q AS BIGINT) AS n_queries,
           CAST(sp AS BIGINT) AS sum_p_at,
           CAST(sp AS DOUBLE) / ({p_at}.0 * CAST(q AS DOUBLE))
             AS precision_at_p,
           CAST(sm AS DOUBLE) / 1000000000.0 / CAST(q AS DOUBLE)
             AS mrr,
           CAST(sn AS DOUBLE) / 1000000000.0 / CAST(q AS DOUBLE)
             AS ndcg
    FROM agg
    """


@query("retrieval_metrics_embeddings", oracle=_retrieval_oracle(8, 10, 5))
def retrieval_metrics_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Precision@5 / MRR / nDCG@10 of the exact nearest-neighbor index
    over held-out embeddings with same-label binary relevance
    (ml/knn.py retrieval_eval; Jarvelin & Kekalainen TOIS 2002) — the
    retrieval-quality harness for the ANN family: integer distances
    and ranks, every DCG term and per-query ratio quantized before the
    integer means, ideal DCG from a rank-table cumulative join."""
    from gofast_spark.ml.knn import retrieval_eval

    e = _t(spark, sf_dir, "embeddings")
    return retrieval_eval(
        e, "vec_id", "embedding", "label", dims=8, k=10, p_at=5
    )


@query(
    "pca_2d_embeddings",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0
               + 0.5) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000.0
               + 0.5) AS BIGINT) AS y
      FROM embeddings WHERE embedding IS NOT NULL),
    agg AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM d),
    m AS (
      SELECT CAST(n AS BIGINT) AS n,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000000000.0 AS a,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000000000.0 AS b,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000000000.0 AS c
      FROM agg)
    SELECT n, a AS var_x, c AS var_y, b AS cov_xy,
           (a + c) / 2.0 + sqrt(((a - c) / 2.0) * ((a - c) / 2.0)
             + b * b) AS lambda1,
           (a + c) / 2.0 - sqrt(((a - c) / 2.0) * ((a - c) / 2.0)
             + b * b) AS lambda2,
           CAST(round(atan2(2.0 * b, a - c) / 2.0, 6) AS DOUBLE)
             AS theta,
           ((a + c) / 2.0 + sqrt(((a - c) / 2.0) * ((a - c) / 2.0)
              + b * b)) / (a + c) AS explained_ratio
    FROM m
    """,
)
def pca_2d_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form PCA of the first two embedding coordinates
    (ml/dimensionality.py pca_2d; Pearson 1901) — the exact 2x2
    eigensolution no iteration or LAPACK needs, making it fully
    oracle-replayable unlike the parked kernel-PCA entries: exact
    integer moments, eigenvalues in original units^2, round-6
    principal angle."""
    from gofast_spark.ml.dimensionality import pca_2d

    e = _t(spark, sf_dir, "embeddings")
    return pca_2d(e, "embedding", dims=(1, 2))


@query(
    "varimax_loadings_lineitem",
    oracle="""
    WITH base AS (
      SELECT l_extendedprice AS price, l_quantity AS qty,
             l_discount AS disc, l_tax AS tax,
             l_extendedprice * (1 - l_discount) AS y1,
             l_quantity AS y2
      FROM lineitem),
    lng AS (
      SELECT 'price' AS variable, price AS x, y1, y2 FROM base
      UNION ALL SELECT 'qty', qty, y1, y2 FROM base
      UNION ALL SELECT 'disc', disc, y1, y2 FROM base
      UNION ALL SELECT 'tax', tax, y1, y2 FROM base),
    loads AS (
      SELECT variable, corr(x, y1) AS f1, corr(x, y2) AS f2
      FROM lng GROUP BY variable),
    st AS (
      SELECT sum(f1*f1 - f2*f2) AS A,
             sum(2*f1*f2) AS B,
             sum((f1*f1 - f2*f2)*(f1*f1 - f2*f2) - 4*f1*f1*f2*f2) AS C,
             sum(2*(f1*f1 - f2*f2)*2*f1*f2) AS D,
             CAST(count(*) AS DOUBLE) AS p
      FROM loads),
    ang AS (
      SELECT atan2(D - 2*A*B/p, C - (A*A - B*B)/p) / 4 AS phi FROM st)
    SELECT variable,
           CAST(round(f1*cos(phi) + f2*sin(phi), 6) AS DOUBLE) AS f1,
           CAST(round(-f1*sin(phi) + f2*cos(phi), 6) AS DOUBLE) AS f2
    FROM loads, ang
    """,
)
def varimax_loadings_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Varimax rotation of a 4 x 2 factor-loading frame
    (varimax_rotation, gofast/analysis/factors.py:747 — the last named
    reference operator without a counterpart, r13 verdict ask #7):
    loadings are the Pearson correlations of four lineitem variables
    with two factor anchors (revenue and quantity), computed in ONE
    stacked pass (stack -> groupBy -> corr); the k=2 rotation is the
    fully relational closed form of ml/dimensionality.py
    varimax_rotation — one Kaiser A/B/C/D aggregate, atan2/4, broadcast
    trig projection — so the DuckDB oracle replays loading estimation
    AND rotation end to end."""
    from gofast_spark.ml import varimax_rotation

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
        F.col("l_discount").alias("disc"),
        F.col("l_tax").alias("tax"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y1"),
        F.col("l_quantity").alias("y2"),
    )
    lng = li.selectExpr(
        "stack(4, 'price', price, 'qty', qty, 'disc', disc, 'tax', tax)"
        " AS (variable, x)",
        "y1",
        "y2",
    )
    loads = lng.groupBy("variable").agg(
        F.corr("x", "y1").alias("f1"), F.corr("x", "y2").alias("f2")
    )
    out = varimax_rotation(loads, ["f1", "f2"])
    return out.select(
        "variable",
        F.round("f1", 6).cast("double").alias("f1"),
        F.round("f2", 6).cast("double").alias("f2"),
    )
