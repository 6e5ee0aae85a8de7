"""Ordered funnel analysis over an event stream.

The product-analytics staple: how many users perform step 1, then step
2 AFTER their first step-1 event, then step 3 after that, ...; each
step's user count and conversion rates.  Sequential semantics (a later
step only counts if it happens at-or-after the user's first qualifying
time for the previous step — ties allowed, matching the common
window-funnel definition).

Scale shape: step k is ONE equi-join of the step-k event slice against
the user-sized step-(k-1) frontier frame, then a per-user min — k-1
user-keyed joins total for a k-step funnel, every intermediate frame
user-sized, no window over the raw stream; the only driver-side
values are the k scalar step counts.  At 100 TB the
event slices prune by the type predicate at the scan and the frontier
frames broadcast when the cohort is small.
"""

from __future__ import annotations

from collections.abc import Sequence
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.session import pin
# the shared auto/exact/sketch percentile switch (stats/prebin.py)
from gofast_spark.stats.prebin import percentile_expr as _percentile_expr


def _funnel_frame(
    spark: SparkSession, steps: list[str], counts: list[int]
) -> DataFrame:
    """The per-step funnel rows from the step counts; a ratio over a zero
    count is NULL (SQL's ``x / 0``), so an empty funnel has NULL ratios."""
    first = counts[0]
    rows = []
    for i, (step, n) in enumerate(zip(steps, counts)):
        prev = counts[i - 1] if i else n
        rows.append(
            (
                i + 1,
                step,
                n,
                n / prev if prev else None,
                n / first if first else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "step_idx int, step string, n_users bigint, "
        "conv_from_prev double, conv_from_first double",
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Per-step funnel counts: ``(step_idx, step, n_users,
    conv_from_prev, conv_from_first)``.

    ``steps`` is the ordered list of event types; a user reaches step k
    iff they have a step-k event at-or-after their first step-(k-1)
    reach time.  Reach time for step k = the earliest such event.  A
    ratio over a zero count is NULL, as SQL's division gives."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    ).where(F.col(ts_col).isNotNull())

    # pin each (user-sized) frontier: step k's count otherwise replays
    # the whole join chain from the raw event stream (k(k+1)/2 scans
    # for a k-step funnel); the pin observes the step count
    frontier, m = pin(
        ev.where(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t")),
        "funnel:step",
        n=F.count(F.lit(1)),
    )
    counts = [m["n"]]
    for step in steps[1:]:
        frontier, m = pin(
            ev.where(F.col("__ty") == step)
            .join(frontier, "__u")
            .where(F.col("__ts") >= F.col("__t"))
            .groupBy("__u")
            .agg(F.min("__ts").alias("__t")),
            "funnel:step",
            n=F.count(F.lit(1)),
        )
        counts.append(m["n"])

    return _funnel_frame(df.sparkSession, steps, counts)


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    cohort_type: str | None = None,
    type_col: str | None = None,
    period_days: int = 7,
    max_periods: int = 8,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period (``cohort``), and for each later period offset the count and
    share still active — the standard growth-analytics triangle.

    ``cohort_type`` (with ``type_col``) restricts what DEFINES the
    cohort entry event (e.g. 'signup'); activity in later periods
    counts any event.  Periods are fixed ``period_days`` windows from
    the user's own entry time (unix-day arithmetic, engine-portable),
    capped at ``max_periods`` offsets.

    Scale shape: entry times are one groupBy; the activity stream joins
    that user-sized frame once; the matrix is one (cohort, offset)
    groupBy of distinct users.  No window over the raw stream."""
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.unix_timestamp(F.col(ts_col)).alias("__s"),
        *([F.col(type_col).alias("__ty")] if type_col else []),
    ).where(F.col(ts_col).isNotNull())
    entries = ev
    if cohort_type is not None:
        if type_col is None:
            raise ValueError("cohort_type needs type_col")
        entries = ev.where(F.col("__ty") == cohort_type)
    first = entries.groupBy("__u").agg(F.min("__s").alias("__t0"))
    day = 86_400
    cohort = (F.col("__t0") / F.lit(day * period_days)).cast("bigint")
    offset = (
        (F.col("__s") - F.col("__t0")) / F.lit(day * period_days)
    ).cast("bigint")
    active = (
        ev.join(first, "__u")
        .where(F.col("__s") >= F.col("__t0"))
        .select("__u", cohort.alias("cohort"), offset.alias("offset"))
        .where(F.col("offset") < max_periods)
        .distinct()
    )
    sizes = first.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "offset",
            "n_active",
            "cohort_size",
            (F.col("n_active") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
    )


def rfm_segments(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    amount_col: str,
    *,
    ref_date=None,
    quantiles: Sequence[float] = (0.2, 0.4, 0.6, 0.8),
    quantile_mode: str = "auto",
) -> DataFrame:
    """RFM segmentation (Hughes 1994, the retention-marketing
    standard): per user, Recency (days since last activity relative to
    ``ref_date``, default the corpus max date), Frequency (activity
    count), Monetary (amount sum), each scored 1-5 against the corpus
    quantile cuts — plus the concatenated ``rfm`` code.

    Scale shape: one user groupBy builds the (user-sized) RFM frame,
    pinned so the cut aggregate and the scored output share
    one materialization instead of scanning the event stream twice;
    the default ``ref_date`` rides the same plan as a 1-row broadcast
    cross join (no eager collect).  ``quantile_mode='auto'`` (default)
    computes the cuts with a bounded-memory ``percentile_approx``
    sketch once the user frame exceeds ``stats.prebin._AUTO_THRESHOLD``
    rows — an exact global percentile buffers every value into one
    final merge, the single-fat-reducer hazard at 100-TB user counts —
    and stays bit-exact below it; ``'exact'``/``'sketch'`` force either
    path (exact is the oracle escape).  Scoring is codegen
    comparisons.  Higher score = better (recency scores invert:
    recent -> 5)."""
    ev = df.where(F.col(ts_col).isNotNull())
    base = ev.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.col(ts_col)).cast("date").alias("__last"),
        F.count(F.lit(1)).cast("double").alias("frequency"),
        F.sum(F.col(amount_col)).cast("double").alias("monetary"),
    )
    if ref_date is not None:
        base = base.withColumn("__ref", F.lit(ref_date).cast("date"))
    else:
        # 1-row corpus-max frame, broadcast — the lazy idiom used for
        # every other scalar normalizer in the repo
        ref_row = ev.agg(F.max(ts_col).cast("date").alias("__ref"))
        base = base.crossJoin(F.broadcast(ref_row))
    base, m = pin(
        base.select(
            "user",
            F.datediff(F.col("__ref"), F.col("__last"))
            .cast("double")
            .alias("recency"),
            "frequency",
            "monetary",
        ),
        "rfm:base",
        n=F.count(F.lit(1)),
    )
    n_users = m["n"] if quantile_mode == "auto" else None
    qs = list(quantiles)
    cuts = base.agg(
        *[
            _percentile_expr(F.col(m), F.lit(q), quantile_mode, n_users)
            .cast("double")
            .alias(f"__{m[0]}_{i}")
            for m in ("recency", "frequency", "monetary")
            for i, q in enumerate(qs)
        ]
    )

    def score(col: str, invert: bool):
        s = F.lit(1)
        for i in range(len(qs)):
            s = s + (F.col(col) > F.col(f"__{col[0]}_{i}")).cast("int")
        return (F.lit(len(qs) + 2) - s) if invert else s

    out = base.crossJoin(F.broadcast(cuts)).select(
        "user",
        "recency",
        "frequency",
        "monetary",
        score("recency", invert=True).alias("r_score"),
        score("frequency", invert=False).alias("f_score"),
        score("monetary", invert=False).alias("m_score"),
    )
    return out.withColumn(
        "rfm",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def funnel_latencies(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    *,
    median_mode: str = "auto",
) -> DataFrame:
    """Per-transition funnel latencies: for each consecutive step pair,
    the count of converting users plus mean and median seconds
    between their reach times (same sequential semantics as
    :func:`funnel`).  The product question after "how many convert" is
    always "how fast".

    Scale shape: identical frontier chain to ``funnel`` (k-1 user-keyed
    joins, each frontier pinned so later transitions don't
    replay the chain from the raw stream); latency aggregation is one
    pass per transition over a user-sized frame.  ``median_mode='auto'``
    (default) switches the median to a bounded-memory
    ``percentile_approx`` sketch once a transition frame exceeds
    ``stats.prebin._AUTO_THRESHOLD`` converting users (an exact global
    percentile buffers all values into one final merge) and stays exact
    below it; ``'exact'`` / ``'sketch'`` force either path."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.unix_timestamp(F.col(ts_col)).alias("__s"),
        F.col(type_col).alias("__ty"),
    ).where(F.col(ts_col).isNotNull())

    frontier, _ = pin(
        ev.where(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__s").alias("__t")),
        "funnel_latencies:step",
    )
    out = None
    for i, step in enumerate(steps[1:], start=1):
        nxt, m = pin(
            ev.where(F.col("__ty") == step)
            .join(frontier.select("__u", F.col("__t").alias("__prev")), "__u")
            .where(F.col("__s") >= F.col("__prev"))
            .groupBy("__u", "__prev")
            .agg(F.min("__s").alias("__t")),
            "funnel_latencies:step",
            n=F.count(F.lit(1)),
        )
        n_conv = m["n"] if median_mode == "auto" else None
        lat = nxt.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.avg(F.col("__t") - F.col("__prev")).alias("avg_latency_sec"),
            _percentile_expr(
                (F.col("__t") - F.col("__prev")).cast("double"),
                F.lit(0.5),
                median_mode,
                n_conv,
            ).cast("double").alias("median_latency_sec"),
        ).select(
            F.lit(i).alias("step_idx"),
            F.lit(f"{steps[i - 1]}->{step}").alias("transition"),
            "n_users",
            "avg_latency_sec",
            "median_latency_sec",
        )
        out = lat if out is None else out.unionByName(lat)
        frontier = nxt.select("__u", "__t")
    return out


def first_touch_mins(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    *,
    by: str | None = None,
) -> DataFrame:
    """Per-user FIRST-TOUCH reach times: one row per user with
    ``t0..t{k-1}`` = min event time of each step type (null if the user
    never performed it).

    This is the streaming-maintainable funnel state: per-(user, step)
    min is a monotone, idempotent, order-insensitive aggregate, so it
    is exact under micro-batching, replays, and arbitrarily late data
    with NO watermark — the state a live funnel dashboard actually
    keeps.  Works identically on a batch or streaming frame (single
    stateful aggregation).  State is user-sized."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    ev = df.where(F.col(ts_col).isNotNull())
    ty = F.col(type_col)
    keys = [F.col(user_col).alias("user")]
    if by is not None:
        # a per-user segment attribute rides the state for segmented
        # funnels (first_touch_counts(..., by=...))
        keys.append(F.col(by))
    return ev.groupBy(*keys).agg(
        *[
            F.min(F.when(ty == s, F.col(ts_col))).alias(f"t{i}")
            for i, s in enumerate(steps)
        ]
    )


def first_touch_counts(
    mins: DataFrame,
    steps: Sequence[str],
    *,
    by: str | None = None,
) -> DataFrame:
    """First-touch funnel counts from a :func:`first_touch_mins` frame:
    step k counts users whose first-touch times are present AND
    non-decreasing through step k (``t0 <= t1 <= ... <= tk``).

    FIRST-TOUCH vs the SEQUENTIAL semantics of :func:`funnel`: here
    only each step's earliest event is considered, so a user who
    clicked before their first view and again after counts in the
    sequential funnel but not in this one.  Both are standard product
    definitions; first-touch is the one that admits exact incremental
    streaming state.  One aggregate over the user-sized frame."""
    steps = list(steps)
    k = len(steps)
    conds = []
    c = F.col("t0").isNotNull()
    conds.append(c)
    for i in range(1, k):
        c = (
            c
            & F.col(f"t{i}").isNotNull()
            & (F.col(f"t{i}") >= F.col(f"t{i - 1}"))
        )
        conds.append(c)
    counts = [
        F.count(F.when(cond, 1)).alias(f"n{i}")
        for i, cond in enumerate(conds)
    ]
    agg = mins.groupBy(by).agg(*counts) if by else mins.agg(*counts)
    stack = ", ".join(f"{i + 1}, '{s}', n{i}" for i, s in enumerate(steps))
    stacked = agg.selectExpr(
        *([by] if by else []),
        f"stack({k}, {stack}) AS (step_idx, step, n_users)",
    )
    return stacked.select(
        *([by] if by else []),
        F.col("step_idx").cast("int").alias("step_idx"),
        "step",
        F.col("n_users").cast("bigint").alias("n_users"),
    )


def markov_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    *,
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    ``(from_type, to_type, n, p)`` where ``p`` row-normalizes over the
    outgoing transitions of ``from_type`` — the product-analytics
    "where do users go next" matrix and the sequence prior behind
    next-event prediction baselines.

    Consecutive events per user under the deterministic
    ``(ts, type)`` ordering (the tie-break makes equal-timestamp
    streams reproducible); one per-user window + one (from, to)
    groupBy; the row normalizer is a vocab-sized broadcast join, never
    a second stream scan."""
    from pyspark.sql import Window

    ev = df.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    ).where(F.col(ts_col).isNotNull() & F.col(type_col).isNotNull())
    w = Window.partitionBy("__u").orderBy("__ts", "__ty")
    pairs = ev.withColumn("__next", F.lead("__ty").over(w)).where(
        F.col("__next").isNotNull()
    )
    counts = pairs.groupBy(
        F.col("__ty").alias("from_type"), F.col("__next").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    outgoing = counts.groupBy("from_type").agg(
        F.sum("n").alias("__row_total")
    )
    return (
        counts.where(F.col("n") >= min_count)
        .join(F.broadcast(outgoing), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n") / F.col("__row_total").cast("double")).alias("p"),
        )
    )


def funnel_windowed(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    *,
    window_sec: int,
) -> DataFrame:
    """Conversion-window funnel: like :func:`funnel`, but step k only
    counts if it happens within ``window_sec`` seconds AFTER the
    user's step-(k-1) reach time — the form real product funnels use
    ("purchased within 24h of the click").  Same frontier-chain scale
    shape (k-1 user-keyed joins over checkpointed user-sized frames);
    the window bound is one extra codegen predicate on each join."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    if window_sec <= 0:
        raise ValueError("window_sec must be positive")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.unix_timestamp(F.col(ts_col)).alias("__s"),
        F.col(type_col).alias("__ty"),
    ).where(F.col(ts_col).isNotNull())

    # frontiers pinned as in the unwindowed funnel above
    frontier, m = pin(
        ev.where(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__s").alias("__t")),
        "windowed_funnel:step",
        n=F.count(F.lit(1)),
    )
    counts = [m["n"]]
    for step in steps[1:]:
        frontier, m = pin(
            ev.where(F.col("__ty") == step)
            .join(frontier, "__u")
            .where(
                (F.col("__s") >= F.col("__t"))
                & (F.col("__s") <= F.col("__t") + F.lit(window_sec))
            )
            .groupBy("__u")
            .agg(F.min("__s").alias("__t")),
            "windowed_funnel:step",
            n=F.count(F.lit(1)),
        )
        counts.append(m["n"])

    return _funnel_frame(df.sparkSession, steps, counts)


def attribution_touches(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    *,
    conversion_type: str = "purchase",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-/last-touch conversion attribution (the standard
    marketing-attribution baselines; see e.g. Shao & Li, KDD 2011 for
    the taxonomy): every conversion event is attributed to the FIRST
    and the LAST non-conversion event type that preceded it in the
    user's ordered stream.

    One user-partitioned ordered window (rows UNBOUNDED PRECEDING ..
    -1, ignore-nulls first/last) + one channel groupBy — no self-join,
    scales with users x events like sessionization.  Conversions with
    no prior touch report channel '(none)'.  Output: ``(channel,
    last_touch, first_touch)`` conversion counts."""
    from pyspark.sql import Window

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col) != conversion_type, F.col(type_col)
    )
    marked = df.select(
        F.col(type_col).alias("__t"),
        F.last(touch, ignorenulls=True).over(w).alias("__last"),
        F.first(touch, ignorenulls=True).over(w).alias("__first"),
    ).where(F.col("__t") == conversion_type)
    lt = marked.groupBy(
        F.coalesce(F.col("__last"), F.lit("(none)")).alias("channel")
    ).agg(F.count(F.lit(1)).alias("last_touch"))
    ft = marked.groupBy(
        F.coalesce(F.col("__first"), F.lit("(none)")).alias("channel")
    ).agg(F.count(F.lit(1)).alias("first_touch"))
    return lt.join(ft, "channel", "full").select(
        "channel",
        F.coalesce("last_touch", F.lit(0)).cast("bigint")
        .alias("last_touch"),
        F.coalesce("first_touch", F.lit(0)).cast("bigint")
        .alias("first_touch"),
    )


def top_user_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    *,
    depth: int = 3,
    top_k: int = 15,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-``top_k`` most common user journey prefixes: each user's
    first ``depth`` event types in time order, joined with '>' (the
    product-analytics "paths" report; the flow-visualization input).

    Per-user ordering is ROW-LOCAL after one groupBy: collect the
    (ts, tiebreak, type) structs, ``array_sort`` (deterministic under
    any partitioning — no orderBy-dependent collect_list), slice the
    prefix.  Output: ``(path, n_users)`` with (count desc, path)
    deterministic ties."""
    order = [F.col(ts_col).alias("__ts")] + (
        [F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []
    )
    d = df.where(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        F.struct(*order, F.col(type_col).alias("__ty")).alias("__s"),
    )
    paths = d.groupBy("__u").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list("__s")),
                    lambda s: s["__ty"],
                ),
                1, depth,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(top_k)
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    amount_col: str,
    *,
    cohort_type: str | None = None,
    type_col: str | None = None,
    period_days: int = 7,
    max_periods: int = 8,
    units: float = 1e6,
) -> DataFrame:
    """Cumulative revenue per cohort user by cohort age — the LTV
    curve growth teams read next to the retention triangle (same
    cohort arithmetic as :func:`retention_cohorts`): for each entry-
    period cohort and offset, the period revenue, its running total,
    and the running total per cohort user.

    Entry times are one groupBy; revenue joins that user-sized frame
    once; sums are exact ``units``-quantized integers; the cumulative
    pass is a window over the (cohort, offset)-sized matrix only.
    Output: ``(cohort, offset, revenue, cum_revenue, ltv_per_user,
    cohort_size)``."""
    from pyspark.sql import Window

    ev = df.select(
        F.col(user_col).alias("__u"),
        F.unix_timestamp(F.col(ts_col)).alias("__s"),
        F.col(amount_col).alias("__a"),
        *([F.col(type_col).alias("__ty")] if type_col else []),
    ).where(F.col(ts_col).isNotNull() & F.col(amount_col).isNotNull())
    entries = ev
    if cohort_type is not None:
        if type_col is None:
            raise ValueError("cohort_type needs type_col")
        entries = ev.where(F.col("__ty") == cohort_type)
    first = entries.groupBy("__u").agg(F.min("__s").alias("__t0"))
    period = 86_400 * period_days
    cohort = (F.col("__t0") / F.lit(float(period))).cast("bigint")
    offset = (
        (F.col("__s") - F.col("__t0")) / F.lit(float(period))
    ).cast("bigint")
    au = F.floor(F.col("__a").cast("double") * F.lit(units)
                 + F.lit(0.5)).cast("bigint")
    rev = (
        ev.join(first, "__u")
        .where((F.col("__s") >= F.col("__t0"))
               & (offset < max_periods))
        .groupBy(cohort.alias("cohort"), offset.alias("offset"))
        .agg(F.sum(au.cast("decimal(38,0)")).alias("__r"))
    )
    sizes = first.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = Window.partitionBy("cohort").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "offset", "cohort_size",
            (F.col("__r").cast("double") / F.lit(units))
            .alias("revenue"),
            (F.sum("__r").over(w).cast("double") / F.lit(units))
            .alias("cum_revenue"),
            (F.sum("__r").over(w).cast("double") / F.lit(units)
             / F.col("cohort_size").cast("double"))
            .alias("ltv_per_user"),
        )
    )
