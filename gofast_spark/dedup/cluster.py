"""Duplicate-cluster assignment and canonical-document selection.

Near-dup *pairs* (MinHash/SimHash/n-gram) are only half of a dedup
pipeline: a training-data build needs each document assigned to a
duplicate *cluster* and exactly one canonical survivor kept per cluster.
Pair relations are not transitive closures — A~B and B~C without A~C is
common at any Jaccard threshold — so cluster assignment is connected
components over the pair graph.

This module implements hash-min label propagation as an iterative
DataFrame computation: every vertex starts labelled with its own id and
repeatedly takes the minimum label over itself and its neighbours until
a fixpoint.  The result is exact and deterministic — the min-reachable
id per component — independent of execution order.

Scale notes (the reason this shape was chosen):

- Each iteration is one shuffle (edges ⋈ labels on dst, then a
  min-groupBy on src).  Iteration count is bounded by the graph
  diameter, and near-dup graphs are overwhelmingly star/clique shaped
  (diameter 1-2), so 3-4 iterations typically reach the fixpoint.  For
  adversarially long chain graphs, hash-min is O(diameter);
  :func:`connected_components_two_phase` runs the large-star/small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014), which converges in O(log² n) rounds on any graph
  shape (``ml.dbscan`` uses it for its core-point graph).
- The label frame is pinned every iteration (``session.pin``) —
  without it the plan doubles per round and Catalyst analysis time
  explodes by iteration ~10 (same driver-loop discipline as
  ``gofast_spark.ml.optim.gradient_descent``).
- Convergence is detected by summing per-vertex change flags as a
  metric observed by that pin — zero extra actions, zero extra
  shuffles.

Reference analog: none — the reference (earthai-tech/gofast) has only
exact ``handle_duplicates`` (gofast/dataops/quality.py:4677); clustered
near-dedup is net-new surface per the builder brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.session import pin


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Exact connected components of an undirected pair graph.

    Parameters
    ----------
    pairs : DataFrame with two id columns (any orderable type); each row
        is an undirected edge.  Self-loops and duplicate edges are fine.
    max_iter : safety bound on propagation rounds; the loop exits early
        at the fixpoint.  50 covers a diameter-50 chain — far beyond any
        realistic near-dup graph; for chain-shaped graphs use
        :func:`connected_components_two_phase`.

    Returns
    -------
    DataFrame ``(id, cluster_id)`` — one row per distinct vertex,
    ``cluster_id`` = minimum id reachable from the vertex.  Vertices
    that only appear in ``pairs`` are included; documents with no
    near-dup edge are implicitly singleton clusters and are NOT emitted
    (join back against the corpus with ``coalesce(cluster_id, id)`` —
    :func:`keep_canonical` does exactly that).
    """
    a = F.col(id_a).alias("src")
    b = F.col(id_b).alias("dst")
    # symmetric edge list; distinct keeps Σ degree² honest on multi-edges
    edges, _ = pin(
        pairs.select(a, b)
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        "cc:edges",
    )
    labels, _ = pin(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id")),
        "cc:labels",
    )
    lab_type = labels.schema["lab"].dataType
    converged = False
    for _ in range(max_iter):
        # r16 round shape (guide §2.4): ONE union + ONE min-groupBy per
        # round instead of join + groupBy + join-back.  The old form
        # aggregated neighbour mins per vertex and OUTER-JOINED them
        # back onto the label frame — a second exchange of the
        # node-sized frame per round.  min over ({own label} ∪
        # {neighbour labels}) is the identical update; the own-label
        # leg carries the previous label through max(__old) (exactly
        # one leg-1 row per vertex, leg-2 rows carry NULL), so the
        # change flag needs no join either.  The pin observes the
        # convergence sum (min-propagation is monotone, so "changed" ==
        # "strictly decreased").
        own = labels.select(
            "id", F.col("lab"), F.col("lab").alias("__old")
        )
        nbr = edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("lab").alias("nlab")
            ),
            "dst",
        ).select(
            F.col("src").alias("id"),
            F.col("nlab").alias("lab"),
            F.lit(None).cast(lab_type).alias("__old"),
        )
        new_labels, m = pin(
            own.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"), F.max("__old").alias("__old"))
            .select(
                "id",
                "lab",
                (F.col("lab") < F.col("__old")).cast("long").alias("__chg"),
            ),
            "cc:round",
            chg=F.coalesce(F.sum("__chg"), F.lit(0)),
        )
        changed = m["chg"]
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning partially-propagated labels would be SILENTLY wrong
        # (multiple "canonical" survivors per true cluster); the exactness
        # contract above requires the fixpoint
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds — the pair graph has diameter > max_iter "
            "(raise max_iter, or use connected_components_two_phase, "
            "the large-star/small-star variant, for chain-shaped graphs)"
        )
    return labels.select(F.col("id"), F.col("lab").alias("cluster_id"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node links its LARGER neighbours to the
    minimum of its neighbourhood (including itself).

    Input contract (r15: two redundant exchanges removed per round —
    guide §2.4): ``e`` is DISTINCT and ORIENTED ``u > v``.  The
    symmetric neighbourhood view the paper's map stage needs is then
    ``e UNION reverse(e)`` with NO distinct — the two legs are disjoint
    by orientation (one has ``u > v``, the other ``u < v``).  The
    output is again distinct (one terminal exchange) and oriented:
    every emitted row is ``(v_old, m)`` with ``m <= u_old < v_old``."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: each node links ALL its smaller neighbours
    (and itself) to the minimum of them.

    Input contract (r15, same as :func:`_large_star`): ``e`` distinct
    and oriented ``u > v`` — exactly the large-star output — so the
    paper's orient-larger-to-smaller map stage is the identity and its
    exchange (greatest/least + distinct) is skipped outright.  Output
    rows are ``(v_old, m)`` with ``m <= v_old`` and ``(u_old, m)`` with
    ``m < u_old``, both filtered to ``u != v``: distinct + oriented
    again."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    j = e.join(mins, "u")
    linked = (
        j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(j.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return linked


def connected_components_two_phase(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — O(log^2 n) rounds on ANY graph shape, so
    adversarially long chains that would cost :func:`connected_components`
    one round per diameter hop converge here in a handful.

    Same output contract as :func:`connected_components`: one
    ``(id, cluster_id)`` row per vertex appearing in ``pairs``, with
    ``cluster_id`` the component minimum.  Each round is two join +
    min-groupBy stages over the (shrinking) edge set; convergence is an
    exact edge-set fixpoint check (count + one-sided subtract on
    checkpointed frames)."""
    # vertex universe from the RAW pairs (a vertex with only a self-loop
    # must still surface as a singleton, matching connected_components)
    verts, _ = pin(
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct(),
        "cc2:verts",
    )
    # initial edges ORIENTED u > v and distinct — half the rows of the
    # old symmetric start, and the round functions' input contract:
    # _large_star reconstructs the symmetric view with a dupe-free
    # union, so the old per-round symmetrize-distinct exchange is gone
    e, m = pin(
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "cc2:edges",
        n=F.count(F.lit(1)),
    )
    # each pin observes the edge count; the subtract only runs once
    # counts stabilize (Python `and` short-circuits)
    n_e = m["n"]
    converged = False
    for _ in range(max_iter):
        e2, m = pin(
            _small_star(_large_star(e)), "cc2:round", n=F.count(F.lit(1))
        )
        n_e2 = m["n"]
        same = n_e2 == n_e and e2.subtract(e).count() == 0
        e = e2
        n_e = n_e2
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"two-phase connected components did not reach an edge-set "
            f"fixpoint within max_iter={max_iter} rounds"
        )
    # fixpoint edges form stars: (node, component-min); roots appear only
    # on the right side — add their self-labels via the vertex frame
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("lab"))
    roots = verts.join(
        labels.select("id"), "id", "left_anti"
    ).withColumn("lab", F.col("id"))
    return labels.union(roots).select(
        "id", F.col("lab").alias("cluster_id")
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_iter: int = 50,
) -> DataFrame:
    """MinHash-LSH near-dup pairs -> connected components: one row per
    document that participates in at least one near-dup pair, labelled
    with its duplicate-cluster id (min doc id in the cluster)."""
    from gofast_spark.dedup.minhash import near_dup_pairs

    pairs = near_dup_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
    )
    return connected_components(pairs, "id_a", "id_b", max_iter=max_iter)


def _cluster_side(
    clusters: DataFrame, cluster_id_col: str, op: str
) -> tuple[DataFrame, bool]:
    """``(__cc_id, __cc_lab)`` join side of a cluster frame, pinned, and
    whether it fits a broadcast.

    The row count is observed by the pin's own job.  The side fits when
    rows times the schema's row size (``StructType.defaultSize``) is
    within the session's ``spark.sql.autoBroadcastJoinThreshold``; a
    threshold of 0 or below never broadcasts, as in Spark.  AQE cannot
    make this call: the side descends from the pinned
    ``connected_components`` output with no shuffle before the join, and
    a pinned frame keeps its pre-pin size estimate, so AQE has no
    runtime size to go by.  Callers hint the side with ``F.broadcast``
    when it fits."""
    side, m = pin(
        clusters.select(
            F.col("id").alias("__cc_id"),
            F.col(cluster_id_col).alias("__cc_lab"),
        ),
        f"{op}:clusters",
        n=F.count(F.lit(1)),
    )
    conf = side.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    size = m["n"] * side._jdf.schema().defaultSize()
    return side, 0 < limit and size <= limit


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    *,
    cluster_id_col: str = "cluster_id",
) -> DataFrame:
    """Keep one canonical row per duplicate cluster (the min-id member)
    plus every unclustered row.

    ``clusters`` is the :func:`connected_components` output — usually
    tiny relative to the corpus (only docs with at least one near-dup
    edge), so it is broadcast and the corpus never shuffles: a doc
    survives iff it has no cluster row (singleton) or its id IS the
    cluster min.  On a duplicate-HEAVY corpus the clustered population
    approaches the corpus and an unconditional broadcast would blow the
    build side (the minhash verify stage had exactly this failure mode),
    so the broadcast is gated on the session's broadcast threshold
    (``_cluster_side``)."""
    cl, fits = _cluster_side(clusters, cluster_id_col, "keep_canonical")
    if fits:
        cl = F.broadcast(cl)
    return (
        df.join(cl, df[id_col] == F.col("__cc_id"), "left")
        .where(F.col("__cc_lab").isNull() | (df[id_col] == F.col("__cc_lab")))
        .drop("__cc_id", "__cc_lab")
    )


def dedup_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """End-to-end near-duplicate removal: pairs -> clusters -> keep the
    min-id document per cluster.  The corpus-side plan is one broadcast
    left join + filter; all heavy lifting happens on the (small) pair
    graph."""
    clusters = near_dup_clusters(
        df,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
    )
    return keep_canonical(df, clusters, id_col)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    test_ratio: float = 0.2,
    seed: int = 0,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train/test split that can NEVER put two near-duplicate documents
    on opposite sides: the split key is the near-dup cluster id (the
    doc's own id for unclustered docs), hashed with the same portable
    LCG bucket as ``split_train_test_by_id``.

    A plain hash-of-id split leaks — a test doc whose near-copy sits in
    train inflates eval scores (the same failure benchmark
    decontamination guards against, but *within* the corpus).  Keying
    the hash on the cluster label moves whole duplicate clusters
    together, so the leak count is structurally zero.

    Plan: cluster labels join into the corpus by id (broadcast-gated —
    the label frame covers only docs with at least one near-dup edge);
    the split itself is a codegen filter.  Returns (train, test)."""
    from gofast_spark.operators.sampling import hash_bucket

    clusters = near_dup_clusters(
        df,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
    )
    cl, fits = _cluster_side(clusters, "cluster_id", "leakage_split")
    if fits:
        cl = F.broadcast(cl)
    keyed = df.join(cl, df[id_col] == F.col("__cc_id"), "left").withColumn(
        "__gkey", F.coalesce(F.col("__cc_lab"), F.col(id_col))
    )
    cut = int(round(test_ratio * 100))
    b = hash_bucket(F.col("__gkey"), seed=seed)
    train = keyed.where(b >= cut).drop("__cc_id", "__cc_lab", "__gkey")
    test = keyed.where(b < cut).drop("__cc_id", "__cc_lab", "__gkey")
    return train, test


def keep_best(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str,
    *,
    cluster_id_col: str = "cluster_id",
) -> DataFrame:
    """Keep the highest-``score_col`` member of each duplicate cluster
    (ties -> min id) plus every unclustered row — the quality-weighted
    variant of :func:`keep_canonical` (keep the longest / best-scored
    near-duplicate instead of an arbitrary min-id survivor, the usual
    corpus-curation choice).

    Winner selection runs on the CLUSTERED population only (cluster
    frame joined to the corpus scores): one max-score aggregate then a
    min-id aggregate among the maximizers — deterministic for any
    orderable id type, no window.  The corpus-side plan stays one
    (gated-broadcast) left join + filter, same as keep_canonical."""
    cl, fits = _cluster_side(clusters, cluster_id_col, "keep_best")
    scored = cl.join(
        df.select(
            F.col(id_col).alias("__cc_id"), F.col(score_col).alias("__sc")
        ),
        "__cc_id",
    )
    mx = scored.groupBy("__cc_lab").agg(F.max("__sc").alias("__mx"))
    winners = (
        scored.join(mx, "__cc_lab")
        .where(F.col("__sc") == F.col("__mx"))
        .groupBy("__cc_lab")
        .agg(F.min("__cc_id").alias("__win"))
    )
    # winners has at most one row per cluster: it fits when cl does
    if fits:
        cl = F.broadcast(cl)
        winners = F.broadcast(winners)
    return (
        df.join(cl, df[id_col] == F.col("__cc_id"), "left")
        .join(winners, "__cc_lab", "left")
        .where(F.col("__cc_lab").isNull() | (df[id_col] == F.col("__win")))
        .drop("__cc_id", "__cc_lab", "__win")
    )
