"""Quantile-sketch pre-binning for the midrank family (VERDICT r5 #5).

The distinct-value cumulative-midrank pattern (relationships._midrank_map,
metrics.gini_score, inferential.ks_test_2samp / wilcoxon_signed_rank,
survival.kaplan_meier) compresses ties before the ordered window, so the
single-task sort runs over the DISTINCT values.  On categorical/discrete
keys that frame is tiny; on a continuous double column distinct ~= N and
the window degenerates to an O(N) one-task sort at scale.

``prebin_column`` bounds that frame: an ``approxQuantile`` sketch (one
pass, Greenwald-Khanna, driver gets only the cutpoints) yields <= bins
bucket boundaries, and each value is replaced by its bucket ordinal — an
order-preserving, tie-compressing surrogate, which is all rank statistics
need.  Exactness contract:

- values whose distinct count <= ``bins`` are returned UNCHANGED (the
  pre-check costs one approx_count_distinct aggregate), so discrete data
  pays nothing and results stay exact;
- above that, rank statistics computed on the binned column are
  approximations whose resolution is 1/bins of the distribution (the
  within-bucket order is erased; each bucket holds ~N/bins rows).

Nulls pass through unchanged (the midrank maps join ``eqNullSafe``); NaN
maps to its own bucket above every finite value, matching double
ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 'auto' mode: engage binning only when the approximate distinct count
# exceeds _AUTO_THRESHOLD, at _AUTO_BINS buckets.  The threshold sits at
# 10x the bin count: below it binning buys <10x sorted-frame compression
# while still introducing approximation, so the exact path wins; above
# it the one-task distinct-value sort is the 100-TB scale hazard the
# binning exists to remove.
_AUTO_BINS = 10_000
_AUTO_THRESHOLD = 100_000

# percentile_approx accuracy for the sketch path: <= 1/accuracy relative
# rank error from a bounded-memory GK sketch
_SKETCH_ACCURACY = 10_000


def use_sketch(mode: str, n_rows: int | None, *, name: str = "mode") -> bool:
    """The percentile switch: whether a quantile should come from the
    bounded-memory sketch rather than an exact global sort.

    ``mode='exact'`` is the oracle escape hatch; ``'sketch'`` always
    sketches; ``'auto'`` (the DEFAULT of the callers) sketches only
    when the frame holds more than ``_AUTO_THRESHOLD`` rows (``n_rows``
    — pass the known count of an already-materialized frame, or None to
    stay exact) — below the threshold exact costs nothing and matches
    oracles bit-for-bit; above it an exact global percentile with no
    groupBy buffers every value into one final merge, the
    single-fat-reducer hazard this switch removes.  Any other ``mode``
    raises ``ValueError`` naming the caller's parameter ``name``."""
    if mode not in ("auto", "exact", "sketch"):
        raise ValueError(f"{name} must be auto|exact|sketch: {mode!r}")
    return mode == "sketch" or (
        mode == "auto" and n_rows is not None and n_rows > _AUTO_THRESHOLD
    )


def percentile_expr(col, q, mode: str, n_rows: int | None):
    """Exact ``percentile`` or bounded-memory ``percentile_approx``
    aggregate expression, chosen by :func:`use_sketch`."""
    if use_sketch(mode, n_rows, name="percentile mode"):
        return F.percentile_approx(col, q, F.lit(_SKETCH_ACCURACY))
    return F.percentile(col, q)


def prebin_column(
    df: DataFrame,
    col: str,
    *,
    bins: int | str | None,
    relative_error: float = 1e-4,
    out_col: str | None = None,
) -> DataFrame:
    """Replace ``col`` by a bounded-cardinality, order-preserving bucket
    ordinal (double) when its distinct count exceeds ``bins``.

    ``bins=None`` is the explicit exact path: the frame is returned
    untouched.  ``bins='auto'`` (the midrank family's DEFAULT) binds the
    scale hazard without opting in: one approx_count_distinct aggregate
    decides, and binning engages at ``_AUTO_BINS`` buckets only when the
    column's distinct count exceeds ``_AUTO_THRESHOLD`` — discrete and
    moderately-cardinal data pays one cheap aggregate and stays exact.
    Eager by design when ``bins`` is set (two bounded driver actions:
    the distinct pre-check and the quantile sketch) — call it at plan
    build time, not inside another transformation.
    """
    if bins is None:
        return df
    auto = bins == "auto"
    if auto:
        bins = _AUTO_BINS
    elif isinstance(bins, str):
        raise ValueError(f"bins must be an int, None, or 'auto': {bins!r}")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    target = out_col or col
    n_distinct = df.agg(
        F.approx_count_distinct(col, rsd=0.02).alias("d")
    ).collect()[0]["d"]
    # 1.05 head-room: approx_count_distinct's rsd means a true count just
    # below bins could read slightly above it — prefer the exact path on
    # the boundary
    exact = (
        n_distinct <= _AUTO_THRESHOLD if auto else n_distinct <= bins * 1.05
    )
    if exact:
        if out_col and out_col != col:
            return df.withColumn(out_col, F.col(col).cast("double"))
        return df
    probs = [i / bins for i in range(1, bins)]
    cuts = df.approxQuantile(col, probs, relative_error)
    inner = sorted({float(c) for c in cuts})
    if not inner:
        return df
    # Bucketizer = JVM binary search per row (no Python, no giant
    # when-chain); +-inf endpoints make it total, handleInvalid='keep'
    # routes null/NaN to the extra bucket which we re-map below
    from pyspark.ml.feature import Bucketizer

    tmp_in, tmp_out = "__pb_in", "__pb_out"
    splits = [float("-inf"), *inner, float("inf")]
    staged = df.withColumn(tmp_in, F.col(col).cast("double"))
    b = Bucketizer(
        splits=splits,
        inputCol=tmp_in,
        outputCol=tmp_out,
        handleInvalid="keep",
    )
    out = b.transform(staged)
    binned = (
        F.when(F.col(tmp_in).isNull(), F.lit(None).cast("double"))
        .when(F.isnan(F.col(tmp_in)), F.lit(float("nan")))
        .otherwise(F.col(tmp_out))
    )
    return out.withColumn(target, binned).drop(tmp_in, tmp_out)
