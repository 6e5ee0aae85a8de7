"""IVF-Flat approximate nearest neighbor (inverted-file index).

The second ANN scale path next to hyperplane LSH (``sim.lsh``), with
data-adaptive cells instead of data-oblivious hyperplanes:

1. **train** ``nlist`` centroids with Lloyd k-means over a bounded,
   deterministic driver sample (same landmark contract as
   ``ml.dimensionality``) — spherical k-means: vectors L2-normalized, so
   nearest-centroid-by-dot == nearest-by-cosine;
2. **assign** every corpus vector to its nearest centroid in ONE
   Arrow-batched pass (`pandas_udf`: batch matmul ``X @ C.T`` + argmax
   against the tiny broadcast centroid matrix) — per-row, no shuffle;
3. **search**: each query probes its ``nprobe`` nearest cells; candidates
   come from an equi-join on the integer cell id (hash-partitionable,
   never a cross product), then the exact cosine re-ranks inside the
   probed cells.

At cluster scale the corpus is assigned once, repartitioned/bucketed by
``cell``, and reused across query batches; recall is tuned by ``nprobe``
(more cells probed -> higher recall, more compute) and ``nlist`` (more,
smaller cells -> faster probes, lower per-probe recall).

Reference: net-new per the builder brief ("an IVF or LSH-bucketed
variant as the scale path").  Published algorithm: inverted-file index
with flat re-ranking (Sivic & Zisserman '03; Jegou et al., PAMI'11 —
public literature).  K-means is numpy on the driver sample only — the
corpus-side work is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.sim.cosine import cosine_sim, l2_norm


def _normalize_rows(x):
    import numpy as np

    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.maximum(n, 1e-12)


def train_centroids(
    df: DataFrame,
    vec_col: str,
    *,
    nlist: int = 16,
    iters: int = 10,
    sample: int = 4096,
    seed: int = 42,
):
    """Spherical k-means centroids from a deterministic bounded sample.

    Returns an L2-normalized ``(nlist x d)`` numpy array.  The sample is
    the top-``sample`` rows by a seeded hash (TakeOrderedAndProject — one
    pass, no shuffle, reproducible); init takes the first ``nlist``
    sampled vectors, then Lloyd iterations assign by max dot and
    re-normalize means.  Empty cells re-seed from the least-covered
    sample row, keeping all ``nlist`` cells live.  Raises ``ValueError``
    when ``df`` has no non-null vector (an empty corpus has no cells).
    """
    import numpy as np

    rows = (
        df.select(vec_col)
        .na.drop()
        .orderBy(F.xxhash64(F.lit(seed), F.col(vec_col)))
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_centroids: no non-null vectors to train on (empty corpus)"
        )
    X = _normalize_rows(np.array([list(r[0]) for r in rows], dtype=float))
    nlist = min(nlist, len(X))
    C = X[:nlist].copy()
    for _ in range(iters):
        sims = X @ C.T  # (n x nlist)
        a = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        for j in range(nlist):
            members = X[a == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:  # re-seed an empty cell with the worst-covered point
                newC[j] = X[sims.max(axis=1).argmin()]
        C = _normalize_rows(newC)
    return C


def _nearest_cells_udf(centroids, nprobe: int):
    """pandas_udf: per vector, the ``nprobe`` nearest cell ids (desc by
    dot with the normalized centroids)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=float)

    # NOTE: no type hints — `from __future__ import annotations` would
    # stringify them and break pandas_udf's signature inference
    def probe(vs):
        X = _normalize_rows(np.array(vs.tolist(), dtype=float))
        sims = X @ C.T
        order = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return pandas_udf(probe, "array<int>")


def assign_cells(
    df: DataFrame, vec_col: str, centroids, *, out_col: str = "cell"
) -> DataFrame:
    """Nearest-centroid cell id per row — one Arrow-batched matmul pass,
    no shuffle.  The centroid matrix ships inside the UDF closure
    (nlist x d doubles — KBs)."""
    probe = _nearest_cells_udf(centroids, 1)
    return df.withColumn(
        out_col, F.element_at(probe(F.col(vec_col)), 1)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroids=None,
    nlist: int = 16,
    nprobe: int = 2,
    k: int = 5,
    query_id_col: str | None = None,
    exclude_self: bool = True,
    seed: int = 42,
) -> DataFrame:
    """IVF-Flat top-k: probe ``nprobe`` cells per query, exact cosine
    re-rank inside.  ``centroids=None`` trains them from the corpus
    (deterministic ``seed``).

    Output: (query_id, id, cell, cos_sim, rank) — the same shape as
    :func:`gofast_spark.sim.lsh_topk`, so recall harnesses compare the
    two paths directly.  Determinism: cosine rounded to 6 decimals,
    ties by corpus id.
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, vec_col, nlist=nlist, seed=seed
        )
    qid = query_id_col or id_col
    # norms hoisted below the cell join: once per row, not per pair
    # (r15 — see cosine_sim)
    c = assign_cells(corpus, vec_col, centroids, out_col="cell").withColumn(
        "__cn", l2_norm(F.col(vec_col))
    )
    probe = _nearest_cells_udf(centroids, nprobe)
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    pairs = c.join(F.broadcast(q), on="cell")
    if exclude_self:
        pairs = pairs.where(F.col(id_col) != F.col("query_id"))
    pairs = pairs.withColumn(
        "cos_sim",
        cosine_sim(
            F.col("__qv"),
            F.col(vec_col),
            norm_a=F.col("__qn"),
            norm_b=F.col("__cn"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_sim"), 6).desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cell", "cos_sim", "rank")
    )


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 5,
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Landmark-IVF top-k: cells anchored at the ``nlist`` corpus vectors
    with the smallest portable hash of their id, ZERO Lloyd iterations —
    every step is a relational expression (portable hash ordering, cosine
    folds, rank windows) that plain SQL reproduces bit-for-bit, so the
    differential oracle can verify the whole ANN path end to end.

    This is the differential-testable twin of :func:`ivf_topk`: the plan
    shape is identical (cell equi-join, candidate-only exact re-rank,
    never a cross product against the corpus — the landmark frame is
    ``nlist`` rows, broadcast), k-means just picks better-centered cells.
    Determinism: cell assignment and probe order sort by cosine rounded
    to 6 decimals with the cell index as tie-break; final rank ties break
    by corpus id.
    """
    from gofast_spark.text.hashing import md5_hash64

    qid = query_id_col or id_col
    h = F.pmod(md5_hash64(F.col(id_col).cast("string")), F.lit(2**31))
    lm_w = Window.orderBy("__h", "__lid")
    landmarks = (
        corpus.select(
            F.col(id_col).alias("__lid"),
            F.col(vec_col).alias("__lv"),
            h.alias("__h"),
        )
        .orderBy("__h", "__lid")
        .limit(nlist)
        .withColumn("cell", (F.row_number().over(lm_w) - 1).cast("int"))
        .drop("__h")
    )

    # norms hoisted below the joins: the row norm is computed once per
    # row (then REUSED by the final re-rank), the landmark norm once per
    # landmark — not once per (row, landmark) pair (r15 — see cosine_sim)
    landmarks = landmarks.withColumn("__ln", l2_norm(F.col("__lv")))

    def _assign(df: DataFrame, vcol: str, keep, *, top: int) -> DataFrame:
        cs = cosine_sim(
            F.col(vcol),
            F.col("__lv"),
            norm_a=F.col("__vn"),
            norm_b=F.col("__ln"),
        )
        w = Window.partitionBy(*keep).orderBy(
            F.round(cs, 6).desc(), F.col("cell").asc()
        )
        return (
            df.withColumn("__vn", l2_norm(F.col(vcol)))
            .crossJoin(F.broadcast(landmarks))
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top)
            .drop("__lid", "__lv", "__ln", "__r")
        )

    cells = _assign(corpus, vec_col, [id_col], top=1)
    probes = _assign(
        queries.select(
            F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
        ["query_id"],
        top=nprobe,
    )
    pairs = cells.join(
        F.broadcast(
            probes.select(
                "query_id", "__qv", F.col("__vn").alias("__qn"), "cell"
            )
        ),
        on="cell",
    )
    if exclude_self:
        pairs = pairs.where(F.col(id_col) != F.col("query_id"))
    pairs = pairs.withColumn(
        "cos_sim",
        cosine_sim(
            F.col("__qv"),
            F.col(vec_col),
            norm_a=F.col("__qn"),
            norm_b=F.col("__vn"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_sim"), 6).desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cell", "cos_sim", "rank")
    )


def ivf_topk_kmeans_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 5,
    iterations: int = 2,
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-Flat top-k with an ENGINE-PORTABLE k-means coarse quantizer
    (the oracle-backed successor of the rows-only MLlib-seeded variant,
    r13 verdict ask #2): centroids come from
    :func:`gofast_spark.ml.kmeans_exact.fit_kmeans_lloyd` — integer
    micro-unit coordinates, md5-hash-seeded init, truncated-mean
    updates — so training, cell assignment, probe selection, and the
    exact cosine re-rank are ALL pure functions of the data that a SQL
    engine replays bit-for-bit.  This is classical (Euclidean) IVF-Flat
    a la FAISS ``IndexIVFFlat``: L2 cells, exact re-rank inside the
    probed cells.

    Plan shape per stage (identical to :func:`ivf_topk_portable`):
    centroid frame is ``nlist`` rows, always broadcast; assignment and
    probing are broadcast-nested-loop + per-id row_number (never a
    corpus x corpus product); candidates come from the ``cell``
    equi-join.  Distances in the quantizer are exact int64 — no float
    reduction-order sensitivity; only the final cosine is float, and
    ranking rounds it to 6 decimals with the corpus id as tie-break.
    """
    from gofast_spark.ml.kmeans_exact import (
        dist2_units,
        fit_kmeans_lloyd_arrays,
        quantize_units,
    )
    from gofast_spark.text.hashing import md5_hash64

    qid = query_id_col or id_col
    # ONE ArrayType column of micro-unit coordinates end to end (r15:
    # the former 64-scalar-column layout cost ~3 s of driver-side
    # expression construction per query build plus MB-scale codegen;
    # the array form is O(1) expression nodes — guide §1.2 step 2)
    xs = F.transform(F.col(vec_col), lambda x: quantize_units(x))
    fit_pts = corpus.select(
        F.col(id_col).alias("__id"),
        md5_hash64(F.col(id_col).cast("string")).alias("__hv"),
        xs.alias("__xs"),
    ).where(F.col("__id").isNotNull())
    # nlist rows; pin them so the Lloyd chain executes ONCE instead of
    # replaying under both the assignment and the probe broadcast
    cent, _ = pin(
        fit_kmeans_lloyd_arrays(fit_pts, nlist, iterations=iterations)
        .select(F.col("cid").cast("int").alias("cell"), "__ks"),
        "ivf:centroids",
    )

    dist = dist2_units(F.col("__xs"), F.col("__ks"))

    def _nearest(df: DataFrame, keep: list[str], *, top: int) -> DataFrame:
        w = Window.partitionBy(*keep).orderBy(
            F.col("__d").asc(), F.col("cell").asc()
        )
        return (
            df.crossJoin(F.broadcast(cent))
            .withColumn("__d", dist)
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top)
            .select(*keep, F.col(vec_col), "cell")
        )

    pts = corpus.where(F.col(id_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), xs.alias("__xs")
    )
    cells = _nearest(pts, [id_col], top=1)
    qpts = queries.where(F.col(qid).isNotNull()).select(
        F.col(qid).alias("query_id"), F.col(vec_col), xs.alias("__xs")
    )
    probes = _nearest(qpts, ["query_id"], top=nprobe).withColumnRenamed(
        vec_col, "__qv"
    )
    # norms hoisted below the cell join (r15 — see cosine_sim)
    pairs = cells.withColumn("__cn", l2_norm(F.col(vec_col))).join(
        F.broadcast(probes.withColumn("__qn", l2_norm(F.col("__qv")))),
        on="cell",
    )
    if exclude_self:
        pairs = pairs.where(F.col(id_col) != F.col("query_id"))
    pairs = pairs.withColumn(
        "cos_sim",
        cosine_sim(
            F.col("__qv"),
            F.col(vec_col),
            norm_a=F.col("__qn"),
            norm_b=F.col("__cn"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_sim"), 6).desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cell", "cos_sim", "rank")
    )
