"""Semantic deduplication over an embedding column (SemDeDup).

Published algorithm (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication" — public
literature): cluster the corpus embeddings with k-means, compute pairwise
cosine similarity WITHIN each cluster only, and for every pair above a
threshold keep exactly one member — the authors keep the example with the
LOWEST similarity to its cluster centroid (the "farthest from centroid"
rule), discarding the redundant near-copies closer to the cluster core.

Spark-first design — every stage is relational, nothing is all-pairs:

1. **cells**: either landmark cells (the ``nlist`` corpus vectors with the
   smallest portable id hash — zero Lloyd iterations, every step a SQL
   expression, so a DuckDB oracle replays the whole pipeline bit-for-bit)
   or spherical-kmeans cells trained on a bounded driver sample
   (:func:`gofast_spark.sim.ivf.train_centroids` — better-centered cells,
   same plan shape).  Assignment is a broadcast join against the tiny
   (``nlist``-row) centroid frame plus a per-row top-1 window — the corpus
   never shuffles for assignment.
2. **within-cell pairs**: a self-equi-join on the integer cell id — cost
   sum(cell_i^2), never corpus^2; AQE's skew-join split handles an
   oversized cell.  This mirrors the reference algorithm exactly: SemDeDup
   itself only compares inside a cluster.
3. **dominance prune** (non-iterative, deterministic): a row is a
   duplicate iff some same-cell neighbor with cosine >= ``threshold``
   outranks it — ``keep='farthest'`` ranks by centroid-similarity
   ascending (the paper's rule), ``keep='lowest_id'`` by id.  One
   aggregation over the pair frame, one anti/left join back; no
   iteration, so the label of every row is independent of evaluation
   order (unlike greedy sequential dedup).

At 100 TB: the centroid frame stays KB-sized however large the corpus is;
the only shuffles are the cell equi-join and the distinct over flagged
ids.  ``nlist`` controls the within-cell quadratic term — scale it with
corpus size so cells stay bounded (the paper uses 50k clusters for
LAION-440M; cells of ~10k rows keep the self-join cheap).

Reference capability: builder brief "embedding-cosine near-dup" family;
complements ``dedup/minhash.py`` (lexical) with the semantic path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.sim.cosine import cosine_sim, l2_norm


def _landmark_cells(
    df: DataFrame, id_col: str, vec_col: str, *, nlist: int
) -> DataFrame:
    """(cell, __lv) landmark frame: the ``nlist`` corpus rows with the
    smallest portable md5 hash of their id — fully relational, oracle-
    replayable (same contract as ``sim.ivf.ivf_topk_portable``)."""
    from gofast_spark.text.hashing import md5_hash64

    h = F.pmod(md5_hash64(F.col(id_col).cast("string")), F.lit(2**31))
    w = Window.orderBy("__h", "__lid")
    return (
        df.select(
            F.col(id_col).alias("__lid"),
            F.col(vec_col).alias("__lv"),
            h.alias("__h"),
        )
        .orderBy("__h", "__lid")
        .limit(nlist)
        .withColumn("cell", (F.row_number().over(w) - 1).cast("int"))
        .select("cell", "__lv")
    )


def _centroid_cells(spark, centroids) -> DataFrame:
    """(cell, __lv) frame from a trained numpy centroid matrix."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "cell int, __lv array<double>")


def assign_semantic_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    nlist: int = 8,
    centroids=None,
) -> DataFrame:
    """Corpus rows + (cell, cent_sim): nearest cell by cosine against the
    broadcast centroid frame (landmark cells unless ``centroids`` given).

    ``cent_sim`` is the cosine to the assigned centroid — the ranking key
    for SemDeDup's keep-farthest rule.  Determinism: assignment sorts by
    cosine rounded to 6 decimals, ties to the lowest cell index.
    """
    if centroids is None:
        cells = _landmark_cells(df, id_col, vec_col, nlist=nlist)
    else:
        cells = _centroid_cells(df.sparkSession, centroids)
    # norms hoisted below the cross join: the row norm is computed once
    # per row and the centroid norm once per cell — not once per
    # (row, cell) pair (r15 — see sim.cosine.cosine_sim)
    cells = cells.withColumn("__ln", l2_norm(F.col("__lv")))
    cs = cosine_sim(
        F.col(vec_col),
        F.col("__lv"),
        norm_a=F.col("__vn"),
        norm_b=F.col("__ln"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.round(cs, 6).desc(), F.col("cell").asc()
    )
    return (
        df.withColumn("__vn", l2_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cells))
        .withColumn("cent_sim", cs)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .drop("__lv", "__ln", "__vn", "__r")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.3,
    nlist: int = 8,
    centroids=None,
    keep: str = "farthest",
) -> DataFrame:
    """SemDeDup labels: input rows + (cell, cent_sim, is_dup).

    ``is_dup = 1`` iff a same-cell neighbor with cosine >= ``threshold``
    outranks the row under ``keep``:

    - ``'farthest'`` (paper rule): neighbors with LOWER centroid
      similarity outrank (keep the example farthest from the cluster
      core); ties break to the lower id.
    - ``'lowest_id'``: the lowest id in each >=threshold neighborhood
      survives.

    The rule is a single EXISTS over the within-cell pair frame, so it is
    order-independent and replayable in plain SQL.  Note the semantics:
    every row with at least one outranking near-neighbor is dropped, even
    if its outranking neighbor is itself dropped — the survivor set is
    the per-neighborhood argmin, not a maximal independent set (matching
    the paper's one-shot pruning, not an iterative matching).

    Filter survivors with ``.where(F.col('is_dup') == 0)``.
    """
    if keep not in ("farthest", "lowest_id"):
        raise ValueError(f"keep must be 'farthest' or 'lowest_id', got {keep!r}")
    cells = assign_semantic_cells(
        df, id_col, vec_col, nlist=nlist, centroids=centroids
    )
    # Pre-normalize each vector ONCE (two separate projections so the
    # norm fold is never inlined into the per-element lambda), making the
    # within-cell pair cosine a single zip_with/aggregate dot fold
    # instead of dot + two norms + sqrt per pair — a 3x cut on the
    # pipeline's dominant cost (sum(cell^2) pair evaluations).  The
    # normalized arrays materialize before the pair join's shuffle, so
    # each vector is normalized exactly once however many pairs touch it.
    from gofast_spark.sim.cosine import l2_norm

    cells = cells.withColumn("__l2", l2_norm(F.col(vec_col)))
    cells = cells.withColumn(
        "__nv",
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("__l2")),
    )
    # the assigned+normalized frame feeds THREE consumers (both pair
    # legs and the final label join-back); unpinned each re-runs the
    # landmark sort, the broadcast assignment window, and the
    # normalization — 3x the pipeline's per-row cost
    cells, _ = pin(cells, "semdedup:cells")
    a = cells.select(
        F.col(id_col).alias("__a_id"),
        F.col("__nv").alias("__a_v"),
        F.col("cell").alias("__a_cell"),
        F.round("cent_sim", 6).alias("__a_cs"),
    )
    b = cells.select(
        F.col(id_col).alias("__b_id"),
        F.col("__nv").alias("__b_v"),
        F.col("cell").alias("__b_cell"),
        F.round("cent_sim", 6).alias("__b_cs"),
    )
    if keep == "farthest":
        outranks = (F.col("__b_cs") < F.col("__a_cs")) | (
            (F.col("__b_cs") == F.col("__a_cs"))
            & (F.col("__b_id") < F.col("__a_id"))
        )
    else:
        outranks = F.col("__b_id") < F.col("__a_id")
    from gofast_spark.sim.cosine import _dot

    dup_ids = (
        a.join(
            b,
            (F.col("__a_cell") == F.col("__b_cell"))
            & (F.col("__a_id") != F.col("__b_id")),
        )
        .where(
            # cheap rank comparison first: && short-circuits in codegen,
            # so the 64-element dot fold runs for only the ~half of cell
            # pairs where b actually outranks a
            outranks
            & (_dot(F.col("__a_v"), F.col("__b_v")) >= F.lit(threshold))
        )
        .select(F.col("__a_id").alias("__dup_id"))
        .distinct()
    )
    return cells.join(
        dup_ids, F.col(id_col) == F.col("__dup_id"), "left"
    ).select(
        *df.columns,
        "cell",
        "cent_sim",
        F.when(F.col("__dup_id").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("is_dup"),
    )
