"""Grid-bucketed distributed DBSCAN (Ester, Kriegel, Sander & Xu,
KDD 1996) — density clustering without an all-pairs join.

The scale insight (same family as the MinHash band join,
``dedup/minhash.py``): bucket points into grid cells of side ``eps``;
two points within ``eps`` of each other necessarily sit in the same or
an ADJACENT cell, so the neighbor search is one equi-join on cell keys
over the 3^d offset neighborhood — candidate volume tracks local
density, never n².  The cluster step reuses the repo's hash-min
``connected_components`` (one shuffle per round, large-star/small-star
for chains) over CORE-core edges only.

Determinism: coordinates quantize to integer micro-units, so distance
comparisons are exact 64-bit integer arithmetic (no float boundary
flicker between engines); border points take the SMALLEST cluster
label among their core neighbors; labels are min-member-ids.

Steps (all relational):
1. cells: (id, cell_x.., coords_u6) projection;
2. candidate pairs: self-join on the 3^d adjacent-cell keys, id_a <
   id_b, filtered to dist^2 <= eps^2 (exact ints);
3. degree: neighbor counts per id (a point is core when neighbors + 1
   >= min_pts — the point itself counts, per the original paper);
4. clusters: connected components over core-core edges;
5. assignment: core -> its component label; border (non-core with a
   core neighbor) -> min core-neighbor label; else noise (NULL).
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin

_U = 1_000_000


def dbscan(
    df: DataFrame,
    id_col: str,
    dim_cols: Sequence[str],
    *,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Cluster assignment ``(id, cluster, role)`` — ``role`` in
    ('core', 'border', 'noise'); ``cluster`` is the min member id of
    the component (NULL for noise)."""
    dims = list(dim_cols)
    d = len(dims)
    if d < 1 or eps <= 0 or min_pts < 1:
        raise ValueError("need >= 1 dim, eps > 0, min_pts >= 1")
    if d > 3:
        raise ValueError("grid DBSCAN supports up to 3 dims (3^d cells)")
    eps_u = int(round(eps * _U))
    cols = [
        F.floor(F.col(c).cast("double") * _U + F.lit(0.5))
        .cast("bigint")
        .alias(f"x{i}")
        for i, c in enumerate(dims)
    ]
    pts = df.select(F.col(id_col).alias("id"), *cols).where(
        F.col(id_col).isNotNull()
    )
    for i in range(d):
        pts = pts.withColumn(
            f"g{i}", F.floor(F.col(f"x{i}") / F.lit(eps_u)).cast("bigint")
        )
    pts, _ = pin(pts, "dbscan:points")

    # ONE equi-join, not 3^d: the left side explodes each point to its
    # 3^d neighbor-cell keys, the right side keeps its home cell — the
    # shuffle key is the cell tuple, candidate volume tracks density
    dist = None
    for i in range(d):
        t = F.col(f"a.x{i}") - F.col(f"b.x{i}")
        dist = t * t if dist is None else dist + t * t
    offsets = list(product((-1, 0, 1), repeat=d))
    probe_cells = F.explode(
        F.array(
            *[
                F.struct(
                    *[
                        (F.col(f"g{i}") + F.lit(o)).alias(f"h{i}")
                        for i, o in enumerate(off)
                    ]
                )
                for off in offsets
            ]
        )
    )
    probes = pts.select("id", *[f"x{i}" for i in range(d)],
                        probe_cells.alias("nc"))
    cond = F.col("a.id") < F.col("b.id")
    for i in range(d):
        cond = cond & (F.col(f"a.nc.h{i}") == F.col(f"b.g{i}"))
    pairs, _ = pin(
        probes.alias("a")
        .join(pts.alias("b"), cond)
        .where(dist <= F.lit(eps_u * eps_u))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")),
        "dbscan:pairs",
    )

    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nb")
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))
    )
    degree = sym.groupBy("id").agg(F.count(F.lit(1)).alias("n_nb"))
    # `core` feeds three legs (both core_edges prune joins and the
    # core_lab assembly) — pin the node-sized frame so the degree
    # aggregate over the symmetric pair view runs once, not per leg
    core, _ = pin(
        degree.where(F.col("n_nb") + 1 >= min_pts).select("id"),
        "dbscan:core",
    )

    from gofast_spark.dedup.cluster import connected_components_two_phase

    core_edges = (
        pairs.join(core.withColumnRenamed("id", "id_a"), "id_a")
        .join(core.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b")
    )
    # large/small-star CC (same (id, min-member) contract as the hash-min
    # variant, pinned by tests/test_cluster.py equivalence tests): grid
    # clusters are chain-shaped, so min-propagation paid one round PER
    # DIAMETER HOP (16 rounds on the sf0.1 graph, ~0.8 s/round of fixed
    # job overhead); the star rounds converge in O(log^2 n) regardless
    # of chain length — the asymptotic win at 100 TB, not a local tweak
    comp = connected_components_two_phase(core_edges)  # (id, cluster_id)
    # `core_lab` feeds three legs (border min-join, the border
    # anti-join, the assigned union) — left lazy, each leg replayed the
    # CC label/root assembly and the core join; pin the node-sized frame
    core_lab, _ = pin(
        core.join(comp, "id", "left").select(
            "id",
            # a core point with no core neighbor is its own cluster
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster"),
        ),
        "dbscan:core_labels",
    )

    border_lab = (
        sym.join(core_lab.withColumnRenamed("id", "nb"), "nb")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
        .join(core_lab.select("id"), "id", "left_anti")
    )

    assigned = core_lab.withColumn("role", F.lit("core")).unionByName(
        border_lab.withColumn("role", F.lit("border"))
    )
    return pts.select("id").join(assigned, "id", "left").select(
        "id",
        "cluster",
        F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
    )
