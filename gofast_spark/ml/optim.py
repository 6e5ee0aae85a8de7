"""Driver-side iterative math over distributed sufficient statistics.

Reference: ``gradient_descent`` (gofast/utils/mathext.py:5008) runs
full-batch GD on an in-memory design matrix; ``linkage_matrix``
(gofast/utils/mathext.py:5222) delegates hierarchical clustering to
scipy.  Distributed re-expressions:

- :func:`gradient_descent` — full-batch GD's update only ever touches
  ``Z'Z`` and ``Z's`` (d x d and d x 1), so ONE distributed aggregate
  collects the sufficient statistics and the epoch loop runs on the
  driver in exact arithmetic over d-dimensional state.  No per-epoch
  data pass, no driver-side data materialization — scale-invariant.
- :func:`linkage_matrix` — agglomerative clustering is inherently
  O(m^2) in the clustered set; the distributed contract (same as
  ``ml.dimensionality``'s landmark methods) is a bounded deterministic
  sample, clustered in numpy on the driver.  100 TB inputs cluster a
  representative sample, never the full table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gradient_descent(
    df: DataFrame,
    z_col: str,
    s_col: str,
    *,
    alpha: float = 0.01,
    n_epochs: int = 100,
    kind: str = "linear",
    degree: int = 1,
):
    """Full-batch gradient descent for the polynomial model
    ``s ~ sum_j w_j z^j`` (reference gofast/utils/mathext.py:5008).

    Returns ``(weights, cost_history)``: the fitted coefficient list
    (constant term first) and the per-epoch cost ``(n/2) * ||Zw - s||^2``
    exactly as the reference computes it.

    The update ``w -= alpha/n * (Z'Z w - Z's)`` uses only the moment
    matrices, collected in one aggregate; the epoch loop is plain python
    float arithmetic (IEEE double, reproducible in SQL) over ``d``
    scalars.  ``kind='linear'`` pins degree 1; ``kind='poly'`` raises
    degree < 2 to 2, mirroring the reference's argument handling.
    """
    degree = abs(int(degree))
    kind = str(kind).lower()
    if degree > 1:
        kind = "poly"
    if kind == "linear":
        degree = 1
    elif "poly" in kind and degree <= 1:
        degree = 2
    d = degree + 1

    src = df.select(
        F.col(z_col).cast("double").alias("__z"),
        F.col(s_col).cast("double").alias("__s"),
    ).na.drop()
    z, s = F.col("__z"), F.col("__s")
    aggs = []
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(F.pow(z, i + j)).alias(f"a_{i}_{j}"))
        aggs.append(F.sum(F.pow(z, i) * s).alias(f"b_{i}"))
    aggs.append(F.count(F.lit(1)).cast("double").alias("n"))
    aggs.append(F.sum(s * s).alias("ss"))
    row = src.agg(*aggs).collect()[0]

    if row["n"] is None or float(row["n"]) == 0.0 or row["a_0_0"] is None:
        raise ValueError(
            "gradient_descent: no rows left after dropping nulls in "
            f"{z_col!r}/{s_col!r}"
        )
    A = [[0.0] * d for _ in range(d)]
    b = [0.0] * d
    for i in range(d):
        for j in range(i, d):
            A[i][j] = A[j][i] = float(row[f"a_{i}_{j}"])
        b[i] = float(row[f"b_{i}"])
    n = float(row["n"])
    ss = float(row["ss"])

    w = [0.0] * d
    cost_history = []
    for _ in range(n_epochs):
        grad = [
            sum(A[i][j] * w[j] for j in range(d)) - b[i] for i in range(d)
        ]
        w = [w[i] - alpha * grad[i] / n for i in range(d)]
        # ||Zw - s||^2 = w'Aw - 2 w'b + s's, times n/2 (reference literal
        # ``(1/2 * Z.shape[0])`` — it MULTIPLIES by n/2)
        quad = sum(
            w[i] * A[i][j] * w[j] for i in range(d) for j in range(d)
        )
        lin = sum(w[i] * b[i] for i in range(d))
        cost_history.append((0.5 * n) * (quad - 2.0 * lin + ss))
    return w, cost_history


def linkage_matrix(
    df: DataFrame,
    columns: Sequence[str],
    *,
    method: str = "complete",
    sample: int = 2048,
    seed: int = 42,
    order_by: Sequence[str] | None = None,
):
    """Agglomerative linkage over a bounded deterministic sample
    (reference gofast/utils/mathext.py:5222, scipy linkage semantics).

    Returns a list of ``(a, b, dist, size)`` merge rows in scipy's
    encoding: leaves are 0..m-1, the cluster created by merge ``k`` is
    ``m+k``; each row merges the two clusters at minimal linkage
    distance (euclidean; ``method`` in single/complete/average), ties
    broken by the smaller pair of cluster ids.  The sample is the
    ``sample`` rows with the smallest seeded hash — one
    TakeOrderedAndProject pass, no shuffle, reproducible.

    ``order_by`` replaces the seeded-hash sample order with an explicit
    natural-key ordering, making the LEAF NUMBERING itself replayable by
    an independent SQL engine (``row_number() OVER (ORDER BY ...)``);
    with integer coordinates every linkage height is the correctly
    rounded sqrt of an integer, so the full merge sequence is
    engine-exact — the basis of the linkage_matrix_nation oracle.
    """
    import numpy as np

    if method not in ("single", "complete", "average"):
        raise ValueError(f"unsupported method {method!r}")
    extra = [c for c in (order_by or []) if c not in columns]
    sel = df.select(
        *[F.col(c).cast("double").alias(c) for c in columns],
        *[F.col(c) for c in extra],
    ).na.drop(subset=list(columns))
    order = (
        [F.col(c) for c in order_by]
        if order_by
        else [F.xxhash64(F.lit(seed), *[F.col(c) for c in columns])]
    )
    rows = (
        sel.orderBy(*order)
        .limit(sample)
        .select(*[F.col(c) for c in columns])
        .collect()
    )
    # reshape: an empty sample is a 0 x d matrix, which merges nothing
    X = np.array([list(r) for r in rows], dtype=float).reshape(
        len(rows), len(columns))
    m = len(X)
    # full pairwise distance matrix of the bounded sample
    D = np.sqrt(((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2))
    np.fill_diagonal(D, np.inf)
    active = {i: (i, 1) for i in range(m)}  # slot -> (cluster id, size)
    out = []
    for step in range(m - 1):
        # argmin over the matrix in place — dead slots already hold +inf,
        # so no O(m^2) submatrix copy per merge.  Among exact-distance
        # ties, pick the lexicographically smallest (cluster_a, cluster_b)
        # id pair, the documented deterministic tie-break.
        flat = int(np.argmin(D))
        i0, j0 = np.unravel_index(flat, D.shape)
        dist = float(D[i0, j0])
        best = None
        for ti, tj in zip(*np.nonzero(D == dist)):
            if ti >= tj:
                continue
            pair = tuple(sorted((active[int(ti)][0], active[int(tj)][0])))
            if best is None or pair < best[0]:
                best = (pair, int(ti), int(tj))
        _, i_s, j_s = best
        ci, ni = active[i_s]
        cj, nj = active[j_s]
        a, b_ = sorted((ci, cj))
        out.append((a, b_, dist, ni + nj))
        # Lance-Williams update into slot i_s
        for t in active:
            if t in (i_s, j_s):
                continue
            if method == "single":
                nd = min(D[i_s, t], D[j_s, t])
            elif method == "complete":
                nd = max(D[i_s, t], D[j_s, t])
            else:  # average
                nd = (ni * D[i_s, t] + nj * D[j_s, t]) / (ni + nj)
            D[i_s, t] = D[t, i_s] = nd
        D[j_s, :] = D[:, j_s] = np.inf
        active[i_s] = (m + step, ni + nj)
        del active[j_s]
    return out
