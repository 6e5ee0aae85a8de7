"""Nonlinear dimensionality reduction: kernel PCA, classical MDS, spectral
embedding, LLE.

Reference: ``kPCA``/``LLE`` (gofast/analysis/dimensionality.py:443,552),
``mds_similarity`` (gofast/stats/relationships.py:430),
``perform_spectral_clustering`` (gofast/stats/relationships.py:530) — all
sklearn wrappers over in-memory arrays.

Scale design (SURVEY §4.2.5): these methods are quadratic in the row
count, so the distributed re-expression is **landmark + Nyström**:

1. sample ``m`` landmark rows to the driver (m bounded, default 256 —
   the same contract as the reference's in-memory arrays);
2. eigendecompose the m x m landmark kernel with numpy on the driver;
3. project EVERY row distributively: ``mapInPandas`` computes the row's
   kernel against the broadcast landmark matrix and multiplies by the
   (m x k) projection — one pass, no shuffle, arbitrarily many rows.

kPCA and classical MDS (Torgerson: MDS on Euclidean distances == PCA on
the centered Gram) get the full Nyström treatment.  Spectral embedding
and LLE have no standard out-of-sample extension, so they run on the
landmark sample only and return the sample embedding (documented —
matching the reference's in-memory contract, not silently collecting the
full frame).  No sklearn/scipy: kernels and eigh are numpy.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _landmarks(df: DataFrame, cols: Sequence[str], m: int, seed: int):
    """Sample ~m rows to a (m x d) numpy matrix (bounded by contract).

    One pass, no ``count()`` pre-scan: ``orderBy(xxhash64(seed, cols))
    .limit(m)`` compiles to TakeOrderedAndProject — each partition keeps
    its top-m by the seeded hash and the driver merges, which is a
    deterministic uniform-ish pick over the whole frame without a
    shuffle or a second job.  Raises ``ValueError`` when no row has all
    features non-null (an empty frame included): there is no kernel
    to decompose."""
    import numpy as np

    rows = (
        df.select(*cols)
        .na.drop()
        .orderBy(F.xxhash64(F.lit(seed), *[F.col(c) for c in cols]))
        .limit(m)
        .collect()
    )
    if not rows:
        raise ValueError(
            "no landmark rows (the frame is empty or every row has a "
            "null feature)"
        )
    return np.array([[float(r[c]) for c in cols] for r in rows])


def _projection_io(df: DataFrame, cols: Sequence[str], out_prefix: str, k: int):
    """Prepare the mapInPandas input and output schema for a Nystrom
    projection: feature columns cast to double, rows with null features
    dropped, and every OTHER input column passed through untouched — so
    callers keep their id/label columns instead of re-joining embeddings
    on floating-point feature values."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    others = [f for f in df.schema.fields if f.name not in cols]
    src = df.na.drop(subset=list(cols)).select(
        *[F.col(f.name) for f in others],
        *[F.col(c).cast("double").alias(c) for c in cols],
    )
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in others]
        + [StructField(c, DoubleType(), True) for c in cols]
        + [StructField(f"{out_prefix}_{i}", DoubleType(), True) for i in range(k)]
    )
    return src, schema


def _rbf(a, b, gamma: float):
    """RBF kernel matrix between row sets ``a`` (n x d) and ``b`` (m x d)."""
    import numpy as np

    sq = (
        (a * a).sum(axis=1)[:, None]
        + (b * b).sum(axis=1)[None, :]
        - 2.0 * a @ b.T
    )
    return np.exp(-gamma * np.maximum(sq, 0.0))


def kernel_pca(
    df: DataFrame,
    feature_cols: Sequence[str],
    *,
    k: int = 2,
    gamma: float | None = None,
    landmarks: int = 256,
    seed: int = 42,
    out_prefix: str = "kpca",
) -> DataFrame:
    """Nyström kernel PCA: landmark eigh on the driver, full-frame
    projection via mapInPandas (kPCA,
    gofast/analysis/dimensionality.py:443).  Raises ``ValueError`` when
    no row has every feature non-null (an empty frame included)."""
    import numpy as np

    cols = list(feature_cols)
    L = _landmarks(df, cols, landmarks, seed)
    m, d = L.shape
    g = gamma if gamma is not None else 1.0 / d
    K = _rbf(L, L, g)
    # center the landmark kernel (standard kPCA centering)
    one = np.full((m, m), 1.0 / m)
    Kc = K - one @ K - K @ one + one @ K @ one
    lam, V = np.linalg.eigh(Kc)
    order = np.argsort(lam)[::-1][:k]
    lam, V = lam[order], V[:, order]
    lam = np.maximum(lam, 1e-12)
    proj = V / np.sqrt(lam)  # (m x k): alpha / sqrt(lambda)
    k_row_mean = K.mean(axis=0)  # for out-of-sample centering
    k_mean = K.mean()
    src, schema = _projection_io(df, cols, out_prefix, k)

    def project(batches: Iterator) -> Iterator:
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype=float)
            Kx = _rbf(X, L, g)
            Kxc = (
                Kx
                - Kx.mean(axis=1, keepdims=True)
                - k_row_mean[None, :]
                + k_mean
            )
            Z = Kxc @ proj
            out = pdf.copy()
            for i in range(k):
                out[f"{out_prefix}_{i}"] = Z[:, i]
            yield out

    return src.mapInPandas(project, schema=schema)


def classical_mds(
    df: DataFrame,
    feature_cols: Sequence[str],
    *,
    k: int = 2,
    landmarks: int = 256,
    seed: int = 42,
    out_prefix: str = "mds",
) -> DataFrame:
    """Landmark classical MDS / Torgerson scaling with Nyström extension
    (mds_similarity, gofast/stats/relationships.py:430): double-centered
    squared Euclidean distances to the landmarks, projected onto the
    landmark eigenbasis."""
    import numpy as np

    cols = list(feature_cols)
    L = _landmarks(df, cols, landmarks, seed)
    m = L.shape[0]
    D2 = (
        (L * L).sum(axis=1)[:, None]
        + (L * L).sum(axis=1)[None, :]
        - 2.0 * L @ L.T
    )
    D2 = np.maximum(D2, 0.0)
    J = np.eye(m) - np.full((m, m), 1.0 / m)
    B = -0.5 * J @ D2 @ J
    lam, V = np.linalg.eigh(B)
    order = np.argsort(lam)[::-1][:k]
    lam, V = np.maximum(lam[order], 1e-12), V[:, order]
    proj = V / np.sqrt(lam)  # Nystrom: x -> -0.5 * (d2 - row_mean) @ proj
    d2_row_mean = D2.mean(axis=0)
    src, schema = _projection_io(df, cols, out_prefix, k)

    def project(batches: Iterator) -> Iterator:
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype=float)
            d2 = (
                (X * X).sum(axis=1)[:, None]
                + (L * L).sum(axis=1)[None, :]
                - 2.0 * X @ L.T
            )
            d2 = np.maximum(d2, 0.0)
            Z = -0.5 * (d2 - d2_row_mean[None, :] - d2.mean(axis=1, keepdims=True) + D2.mean()) @ proj
            out = pdf.copy()
            for i in range(k):
                out[f"{out_prefix}_{i}"] = Z[:, i]
            yield out

    return src.mapInPandas(project, schema=schema)


def kernel_pca_power(
    df: DataFrame,
    feature_cols: Sequence[str],
    *,
    id_col: str,
    k: int = 2,
    gamma: float | None = None,
    landmarks: int = 128,
    iters: int = 24,
    out_prefix: str = "kpca",
) -> DataFrame:
    """Deterministic, oracle-replayable Nystrom kernel PCA (kPCA,
    gofast/analysis/dimensionality.py:443).

    Same landmark + Nystrom scale design as :func:`kernel_pca`, with the
    two nondeterministic stages replaced by engine-portable equivalents
    so an independent SQL engine can replay the whole pipeline
    bit-compatibly (to float noise; outputs are quantized):

    - landmarks are the ``landmarks`` rows with the smallest ``id_col``
      (ORDER BY + LIMIT in any engine) instead of the seeded-hash pick;
    - the m x m centered-Gram eigenpairs come from a FIXED-count power
      iteration with deflation, started from the normalized ramp
      (1..m), instead of LAPACK eigh.  Running an identical iteration
      count from an identical start makes the result a well-defined
      function of the data — both engines track each other to ~1e-12
      whether or not the iteration has converged, so round-4 outputs
      hash-match.  (eigh's eigenvectors are only unique up to sign and
      order, and its float path is LAPACK-specific.)

    The centered Gram annihilates the all-ones direction, so the ramp
    start (which is never orthogonal to the dominant remaining
    eigenvector in practice) loses its 1-component after the first
    multiply; no explicit sign convention is needed because both
    replays inherit the sign of the same start vector.

    Input contract: ``id_col`` must be UNIQUE and NON-NULL per row for
    SQL-replay parity — a relational replay keys every join and GROUP
    BY on ``id_col``, where NULL never equals NULL and duplicate ids
    collapse.  Rows with a null ``id_col`` (or null features) are
    therefore dropped from BOTH the landmark pick and the projected
    output, keeping this function's output row-set identical to any
    id-keyed replay's.
    """
    import numpy as np

    cols = list(feature_cols)
    df = df.na.drop(subset=[id_col])
    lm_rows = (
        df.na.drop(subset=cols + [id_col])
        .orderBy(F.col(id_col))
        .limit(landmarks)
        .select(*cols)
        .collect()
    )
    if not lm_rows:
        raise ValueError(
            "kernel_pca_power: no landmark rows (every row has a null "
            f"feature or null {id_col!r})"
        )
    L = np.array([[float(r[c]) for c in cols] for r in lm_rows])
    m, d = L.shape
    g = gamma if gamma is not None else 1.0 / d
    K = _rbf(L, L, g)
    rm = K.mean(axis=0)
    mm = K.mean()
    Kc = K - rm[:, None] - rm[None, :] + mm

    def _power(A):
        x = np.arange(1, m + 1, dtype=float)
        x = x / np.sqrt((x * x).sum())
        for _ in range(iters):
            x = A @ x
            x = x / np.sqrt((x * x).sum())
        return x, float(x @ (A @ x))

    vs, lams = [], []
    A = Kc
    for _ in range(k):
        v, lam = _power(A)
        vs.append(v)
        lams.append(lam)
        A = A - lam * np.outer(v, v)
    proj = np.column_stack(
        [v / np.sqrt(max(lam, 1e-12)) for v, lam in zip(vs, lams)]
    )
    src, schema = _projection_io(df, cols, out_prefix, k)

    def project(batches: Iterator) -> Iterator:
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype=float)
            Kx = _rbf(X, L, g)
            Kxc = Kx - Kx.mean(axis=1, keepdims=True) - rm[None, :] + mm
            Z = Kxc @ proj
            out = pdf.copy()
            for i in range(k):
                out[f"{out_prefix}_{i}"] = Z[:, i]
            yield out

    return src.mapInPandas(project, schema=schema)


def spectral_embedding(
    df: DataFrame,
    feature_cols: Sequence[str],
    *,
    k: int = 2,
    gamma: float | None = None,
    sample: int = 512,
    seed: int = 42,
) -> DataFrame:
    """Sample-bounded spectral embedding (perform_spectral_clustering,
    gofast/stats/relationships.py:530): normalized-Laplacian
    eigenvectors of the RBF affinity over a driver-side sample (no
    out-of-sample extension exists for the raw Laplacian basis — the
    returned frame holds the SAMPLE rows' coordinates)."""
    import numpy as np

    cols = list(feature_cols)
    X = _landmarks(df, cols, sample, seed)
    g = gamma if gamma is not None else 1.0 / X.shape[1]
    W = _rbf(X, X, g)
    np.fill_diagonal(W, 0.0)
    dvec = W.sum(axis=1)
    dinv = 1.0 / np.sqrt(np.maximum(dvec, 1e-12))
    Lsym = np.eye(len(X)) - (dinv[:, None] * W) * dinv[None, :]
    lam, V = np.linalg.eigh(Lsym)
    # skip the trivial constant eigenvector (lambda ~ 0)
    emb = V[:, 1 : k + 1]
    spark = df.sparkSession
    data = [
        tuple(float(x) for x in row) + tuple(float(z) for z in emb[i])
        for i, row in enumerate(X)
    ]
    schema = ", ".join(
        [f"{c} double" for c in cols] + [f"spec_{i} double" for i in range(k)]
    )
    return spark.createDataFrame(data, schema)


def lle_embedding(
    df: DataFrame,
    feature_cols: Sequence[str],
    *,
    k: int = 2,
    n_neighbors: int = 10,
    sample: int = 512,
    reg: float = 1e-3,
    seed: int = 42,
) -> DataFrame:
    """Sample-bounded locally-linear embedding (LLE,
    gofast/analysis/dimensionality.py:552): reconstruction weights from
    the local Gram solve, embedding from the bottom eigenvectors of
    (I-W)'(I-W).  Numpy kernel over a driver-side sample."""
    import numpy as np

    cols = list(feature_cols)
    X = _landmarks(df, cols, sample, seed)
    n = len(X)
    nn = min(n_neighbors, n - 1)
    d2 = (
        (X * X).sum(axis=1)[:, None]
        + (X * X).sum(axis=1)[None, :]
        - 2.0 * X @ X.T
    )
    np.fill_diagonal(d2, np.inf)
    W = np.zeros((n, n))
    for i in range(n):
        idx = np.argpartition(d2[i], nn)[:nn]
        Z = X[idx] - X[i]
        G = Z @ Z.T
        G += np.eye(nn) * reg * np.trace(G) if np.trace(G) > 0 else np.eye(nn) * reg
        w = np.linalg.solve(G, np.ones(nn))
        W[i, idx] = w / w.sum()
    M = (np.eye(n) - W).T @ (np.eye(n) - W)
    lam, V = np.linalg.eigh(M)
    emb = V[:, 1 : k + 1]  # drop the constant bottom eigenvector
    spark = df.sparkSession
    data = [
        tuple(float(x) for x in row) + tuple(float(z) for z in emb[i])
        for i, row in enumerate(X)
    ]
    schema = ", ".join(
        [f"{c} double" for c in cols] + [f"lle_{i} double" for i in range(k)]
    )
    return spark.createDataFrame(data, schema)


def pca_2d(
    df: DataFrame,
    vec_col: str,
    *,
    dims: "tuple[int, int]" = (1, 2),
    unit: int = 1_000_000,
) -> DataFrame:
    """Closed-form PCA of TWO embedding coordinates (Pearson 1901;
    the 2x2 symmetric eigenproblem has an exact solution, so no
    iteration and no LAPACK — fully oracle-replayable, unlike the
    parked kernel-PCA entries):

        lambda_{1,2} = (a + c)/2 +- sqrt( ((a - c)/2)^2 + b^2 )
        theta        = atan2(2 b, a - c) / 2

    over the population covariance matrix [[a, b], [b, c]] of the two
    selected (1-based) coordinates.  Moments are micro-unit-exact
    integers from ONE scan; the covariances divide the grid out once,
    so eigenvalues are in original units^2 and theta (the principal
    -axis angle) is grid-invariant and presented round-6 (in-plan
    atan2 is 1-ulp engine-dependent).  Returns ONE row
    ``(n, var_x, var_y, cov_xy, lambda1, lambda2, theta,
    explained_ratio)``."""
    u = float(unit)
    x = F.floor(
        F.element_at(F.col(vec_col), dims[0]).cast("double")
        * F.lit(u) + F.lit(0.5)
    ).cast("bigint")
    y = F.floor(
        F.element_at(F.col(vec_col), dims[1]).cast("double")
        * F.lit(u) + F.lit(0.5)
    ).cast("bigint")
    d = df.where(F.col(vec_col).isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    uu = F.lit(u * u)
    a = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / n
    ) / n / uu
    b = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / n
    ) / n / uu
    c = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / n
    ) / n / uu
    half = (a + c) / F.lit(2.0)
    root = F.sqrt(
        ((a - c) / F.lit(2.0)) * ((a - c) / F.lit(2.0)) + b * b
    )
    l1 = half + root
    l2 = half - root
    theta = F.atan2(F.lit(2.0) * b, a - c) / F.lit(2.0)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        a.alias("var_x"),
        c.alias("var_y"),
        b.alias("cov_xy"),
        l1.alias("lambda1"),
        l2.alias("lambda2"),
        F.round(theta, 6).cast("double").alias("theta"),
        (l1 / (a + c)).alias("explained_ratio"),
    )


def varimax_rotation(
    df: DataFrame,
    factor_cols: Sequence[str],
    *,
    sweeps: int = 10,
) -> DataFrame:
    """Varimax (orthogonal) rotation of a factor-loading frame
    (varimax_rotation, gofast/analysis/factors.py:747; Kaiser,
    Psychometrika 1958): rotate the factor axes to maximize the
    variance of the squared loadings, making each variable load high
    on one factor and low on the others.

    Input: one row per VARIABLE, ``factor_cols`` holding its loadings;
    every other column passes through (e.g. the variable name).  The
    loading matrix is p x k — driver-scale BY DEFINITION (k factors
    over p observed variables), so the interesting engineering is
    keeping the k=2 case fully RELATIONAL:

    - k == 2: the classic single-angle closed form — one aggregate
      computes Kaiser's A/B/C/D sums, ``phi = atan2(D - 2AB/p,
      C - (A^2-B^2)/p) / 4``, and the rotation is a broadcast
      projection.  One pass over the loadings, no collect, exactly
      replayable in SQL (the oracle-backed catalog entry uses this
      path); a second application of the formula gives phi = 0 —
      the fixed point — which the tests pin.
    - k > 2: deterministic cyclic pairwise sweeps of the same 2-D
      closed form on the driver (``sweeps`` fixed, pairs in index
      order), the standard Kaiser procedure with the convergence test
      replaced by a fixed iteration count for replayability.
    """
    cols = list(factor_cols)
    k = len(cols)
    if k < 2:
        raise ValueError("varimax needs >= 2 factors")
    if k == 2:
        x, y = F.col(cols[0]), F.col(cols[1])
        u = x * x - y * y
        v = F.lit(2.0) * x * y
        st = df.agg(
            F.sum(u).alias("A"),
            F.sum(v).alias("B"),
            F.sum(u * u - v * v).alias("C"),
            F.sum(F.lit(2.0) * u * v).alias("D"),
            F.count(F.lit(1)).cast("double").alias("p"),
        ).select(
            (
                F.atan2(
                    F.col("D") - F.lit(2.0) * F.col("A") * F.col("B") / F.col("p"),
                    F.col("C")
                    - (F.col("A") * F.col("A") - F.col("B") * F.col("B"))
                    / F.col("p"),
                )
                / F.lit(4.0)
            ).alias("__phi")
        )
        others = [c for c in df.columns if c not in cols]
        return df.crossJoin(F.broadcast(st)).select(
            *others,
            (x * F.cos("__phi") + y * F.sin("__phi")).alias(cols[0]),
            (-x * F.sin("__phi") + y * F.cos("__phi")).alias(cols[1]),
        )
    import numpy as np

    rows = df.select(*df.columns).collect()
    others = [c for c in df.columns if c not in cols]
    bad = [
        i for i, r in enumerate(rows) if any(r[c] is None for c in cols)
    ]
    if bad:
        # the k=2 relational path NULL-propagates per engine semantics;
        # the pairwise sweeps cannot (every rotation mixes all rows), so
        # fail loudly instead of crashing in float() or poisoning every
        # loading with NaN (r14 review)
        raise ValueError(
            f"varimax_rotation: null loading in row(s) {bad[:5]} — drop "
            "or impute null loadings before rotating (k > 2 path)"
        )
    L = np.array([[float(r[c]) for c in cols] for r in rows])
    p = float(len(rows))
    for _ in range(sweeps):
        for a in range(k - 1):
            for b in range(a + 1, k):
                x, y = L[:, a], L[:, b]
                u = x * x - y * y
                v = 2.0 * x * y
                A, B = u.sum(), v.sum()
                C, D = (u * u - v * v).sum(), (2.0 * u * v).sum()
                phi = np.arctan2(D - 2 * A * B / p, C - (A * A - B * B) / p) / 4.0
                c, s = np.cos(phi), np.sin(phi)
                L[:, a], L[:, b] = x * c + y * s, -x * s + y * c
    spark = df.sparkSession
    data = [
        tuple(r[c] for c in others) + tuple(float(z) for z in L[i])
        for i, r in enumerate(rows)
    ]
    out_schema = T.StructType(
        [df.schema[c] for c in others]
        + [T.StructField(c, T.DoubleType(), True) for c in cols]
    )
    return spark.createDataFrame(data, out_schema)
