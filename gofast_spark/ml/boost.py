"""L2 gradient boosting with histogram stumps, exact-integer state.

The training loop of a distributed GBDT (Friedman, "Greedy Function
Approximation: A Gradient Boosting Machine", Annals of Statistics 2001;
histogram split finding per Ke et al., LightGBM, NeurIPS 2017), reduced
to its engine-honest core: each round fits one depth-1 regression tree
to the current residuals — a fixed-grid histogram aggregate (one scan,
map-side combined), a bins-sized cumulative window, an in-plan argmax —
and the model update is a projection.  k rounds cost k scans of the
quantized input projection (persist()/cache the input upstream when
scans dominate — the operator itself stays side-effect-free); model
state is k rows.

Engine-portable determinism: the target is quantized to integer
milli-units (``*1e3``), leaf values are TRUNCATED integer means, so
predictions and residuals stay exact 64-bit integers every round —
sums of at most ~1e13 stay inside double's 2^53 exact-integer range,
all split gains derive from exact integers through one fixed
expression order, and a SQL oracle replays every round bit-for-bit
(the gradient_descent / BPE unrolled-oracle discipline).  Split
criterion: maximize SL^2/nL + SR^2/nR (the variance-reduction
equivalent for L2 residuals).  Learning rate is fixed at 1 (pure
residual fitting) to keep the integer arithmetic closed.

Everything stays in ONE lazy plan: per-round best-split rows are 1-row
frames broadcast-cross-joined into the next round's residual
projection — no driver collect of data-dependent values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin

_U = 1_000  # milli-unit quantization of the target


def _split_candidates(hist: DataFrame, lo: float, width: float) -> DataFrame:
    """Every split of a ``(bin, n, s)`` residual histogram that leaves
    rows on both sides: ``(threshold, gain, left_u3, right_u3,
    split_bin)``, with the truncated integer leaf means."""
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    totals = hist.agg(F.sum("n").alias("__n"), F.sum("s").alias("__s"))
    cand = (
        hist.withColumn("nl", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .withColumn("sl", F.coalesce(F.sum("s").over(w), F.lit(0)))
        .crossJoin(F.broadcast(totals))
        .where((F.col("nl") > 0) & (F.col("__n") - F.col("nl") > 0))
    )
    nl = F.col("nl").cast("double")
    nr = (F.col("__n") - F.col("nl")).cast("double")
    sl = F.col("sl").cast("double")
    sr = (F.col("__s") - F.col("sl")).cast("double")
    return cand.select(
        (F.lit(lo) + F.col("bin").cast("double") * F.lit(width))
        .alias("threshold"),
        (sl * sl / nl + sr * sr / nr).alias("gain"),
        (sl / nl).cast("bigint").alias("left_u3"),
        (sr / nr).cast("bigint").alias("right_u3"),
        F.col("bin").alias("split_bin"),
    )


def _best_split(cands: DataFrame, *tiebreak: str) -> DataFrame:
    """The max-gain row of ``cands`` without its gain, ties to the
    smallest ``tiebreak`` values; NO row when there is no candidate (a
    ``max_by`` over no rows still returns one NULL row), so a round
    without a valid split adds no model row and empties the state."""
    key = F.struct(
        F.col("gain"), *[(-F.col(c)).alias(c) for c in tiebreak]
    )
    row = F.struct(*[c for c in cands.columns if c != "gain"])
    return (
        cands.agg(F.max_by(row, key).alias("b"))
        .where(F.col("b").isNotNull())
        .select("b.*")
    )


def fit_boosted_stumps(
    df: DataFrame,
    feature_col: str,
    target_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 64,
    rounds: int = 3,
) -> DataFrame:
    """Train ``rounds`` histogram stumps on the L2 residuals of
    ``target_col ~ feature_col``; returns the model as one row per
    round: ``(round, threshold, left_u3, right_u3)`` plus round 0 as
    the base prediction ``(0, null, base_u3, base_u3)`` — leaf values
    in exact milli-units (divide by 1e3 to apply)."""
    if bins < 2 or rounds < 1:
        raise ValueError("need bins >= 2 and rounds >= 1")
    if not hi > lo:
        raise ValueError("need hi > lo")
    x = F.col(feature_col).cast("double")
    y_u = (F.col(target_col).cast("double") * _U + F.lit(0.5)).cast("bigint")
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"),
                   F.lit(0)),
        F.lit(bins - 1),
    )
    base_rows = (
        df.where(x.isNotNull() & F.col(target_col).isNotNull())
        .select(b.alias("bin"), y_u.alias("y"))
    )
    # ONE corpus fold: a stump assigns one leaf per bin, so the
    # prediction is constant within a bin and every round's residual
    # sum is recoverable from the bins-sized sufficient statistic
    # (n, sum_y) exactly — sum(y - pred) == sum_y - n * pred in the
    # same bigint arithmetic.  The previous row-level state re-scanned
    # the corpus for EVERY round's histogram and broadcast
    # materialization (each round's two broadcast jobs replayed the
    # whole lineage); now rounds are 64-row algebra (guide §1.2: the
    # distributed algorithm first — one pass is the floor here).
    hist0, _ = pin(
        base_rows.groupBy("bin").agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
        ),
        "stumps:hist",
    )
    base = hist0.agg(
        (F.sum("sy").cast("double") / F.sum("n").cast("double"))
        .cast("bigint")
        .alias("base_u3")
    )
    state = hist0.crossJoin(F.broadcast(base)).select(
        "bin", "n", "sy", F.col("base_u3").alias("pred")
    )
    model = base.select(
        F.lit(0).alias("round"),
        F.lit(None).cast("double").alias("threshold"),
        F.col("base_u3").alias("left_u3"),
        F.col("base_u3").alias("right_u3"),
    )
    for k in range(1, rounds + 1):
        hist = state.select(
            "bin",
            "n",
            (F.col("sy") - F.col("n") * F.col("pred")).alias("s"),
        )
        best = _best_split(_split_candidates(hist, lo, width), "threshold")
        state = state.crossJoin(F.broadcast(best)).select(
            "bin",
            "n",
            "sy",
            (
                F.col("pred")
                + F.when(
                    F.col("bin") < F.col("split_bin"), F.col("left_u3")
                ).otherwise(F.col("right_u3"))
            ).alias("pred"),
        )
        model = model.unionByName(
            best.select(
                F.lit(k).alias("round"), "threshold", "left_u3", "right_u3"
            )
        )
    return model


def fit_boosted_stumps_multi(
    df: DataFrame,
    feature_specs: list,
    target_col: str,
    *,
    rounds: int = 2,
) -> DataFrame:
    """Multi-feature boosting: each round evaluates the histogram of
    EVERY feature and takes the globally best split — the actual GBDT
    per-node behavior (one round = one depth-1 tree with feature
    selection).  ``feature_specs`` is ``[(col, lo, hi, bins), ...]``.

    Returns one row per round ``(round, feature, threshold, left_u3,
    right_u3)`` with ``feature`` the chosen column name (round 0 =
    base, feature null).  Cost per round is ONE scan producing all
    per-feature histograms (the groupBys share the cached projection;
    at 100 TB persist the quantized frame upstream), candidate gains
    union across features, argmax tie-break (gain DESC, feature-index
    ASC, threshold ASC).  Same exact milli-unit integer state as
    :func:`fit_boosted_stumps`."""
    specs = [(c, float(lo), float(hi), int(b))
             for c, lo, hi, b in feature_specs]
    if not specs or rounds < 1:
        raise ValueError("need >= 1 feature spec and rounds >= 1")
    for c, lo, hi, b in specs:
        if b < 2 or not hi > lo:
            raise ValueError(f"bad spec for {c}: need bins >= 2, hi > lo")
    y_u = (F.col(target_col).cast("double") * _U + F.lit(0.5)).cast("bigint")
    cond = F.col(target_col).isNotNull()
    bin_cols = []
    for j, (c, lo, hi, b) in enumerate(specs):
        x = F.col(c).cast("double")
        cond = cond & x.isNotNull()
        width = (hi - lo) / b
        bin_cols.append(
            F.least(
                F.greatest(
                    F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"),
                    F.lit(0),
                ),
                F.lit(b - 1),
            ).alias(f"b{j}")
        )
    base_rows = df.where(cond).select(*bin_cols, y_u.alias("y"))
    # ONE corpus fold onto the JOINT bin grid (same identity as
    # fit_boosted_stumps: every round's prediction is constant per
    # joint cell, so (n, sum_y) per cell is a sufficient statistic and
    # sum(y - pred) == sum_y - n * pred exactly).  The grid is at most
    # prod(bins_j) cells — ensemble-sized for the small feature counts
    # this API takes — so rounds become cell-level algebra instead of
    # per-round corpus scans.
    joint_cols = [f"b{j}" for j in range(len(specs))]
    hist0, _ = pin(
        base_rows.groupBy(*joint_cols).agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
        ),
        "stumps:joint_hist",
    )
    base = hist0.agg(
        (F.sum("sy").cast("double") / F.sum("n").cast("double"))
        .cast("bigint")
        .alias("base_u3")
    )
    state = hist0.crossJoin(F.broadcast(base)).select(
        *joint_cols,
        "n",
        "sy",
        F.col("base_u3").alias("pred"),
    )
    model = base.select(
        F.lit(0).alias("round"),
        F.lit(None).cast("string").alias("feature"),
        F.lit(None).cast("double").alias("threshold"),
        F.col("base_u3").alias("left_u3"),
        F.col("base_u3").alias("right_u3"),
    )
    for k in range(1, rounds + 1):
        cands = None
        for j, (_c, lo, hi, b) in enumerate(specs):
            hist = state.groupBy(F.col(f"b{j}").alias("bin")).agg(
                F.sum("n").alias("n"),
                F.sum(F.col("sy") - F.col("n") * F.col("pred")).alias("s"),
            )
            cand = _split_candidates(hist, lo, (hi - lo) / b).select(
                F.lit(j).alias("fidx"), "*"
            )
            cands = cand if cands is None else cands.unionByName(cand)
        best = _best_split(cands, "fidx", "threshold")
        goes_left = None
        for j in range(len(specs)):
            c = (F.col("fidx") == j) & (F.col(f"b{j}") < F.col("split_bin"))
            goes_left = c if goes_left is None else (goes_left | c)
        state = state.crossJoin(F.broadcast(best)).select(
            *joint_cols,
            "n",
            "sy",
            (
                F.col("pred")
                + F.when(goes_left, F.col("left_u3")).otherwise(
                    F.col("right_u3")
                )
            ).alias("pred"),
        )
        fname = None
        for j, (c, _lo, _hi, _b) in enumerate(specs):
            e = F.when(F.col("fidx") == j, F.lit(c))
            fname = e if fname is None else fname.when(
                F.col("fidx") == j, F.lit(c)
            )
        model = model.unionByName(
            best.select(
                F.lit(k).alias("round"),
                fname.alias("feature"),
                "threshold",
                "left_u3",
                "right_u3",
            )
        )
    return model
