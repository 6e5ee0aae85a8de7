"""Distributed PageRank over an edge DataFrame.

Link-graph centrality is a standard corpus-curation signal (the
original Common Crawl quality prior; harmonic/PageRank centrality in
CCNet-descended pipelines).  This is the classic synchronous power
iteration expressed as DataFrame joins:

    r_{t+1}(v) = (1 - d) / N  +  d * sum_{u -> v} r_t(u) / outdeg(u)

Scale shape: each iteration broadcasts the node-sized rank frame
(<< edges) into a probe of the edge table on the source key, so the
edges are never shuffled, followed by ONE groupBy on the destination.
The rank frame is pinned every round except the last, so the plan
never grows with the iteration count (same discipline as
dedup/cluster.py's hash-min loop).

Dangling nodes: callers pass a symmetric edge set (``undirected=True``
in :func:`edges_from_pairs`) or accept mass leakage — the standard
simplification when ranks are used as a relative quality ordering.
The fixed-iteration form (no convergence test) keeps the computation
deterministic and lets the differential oracle unroll the exact same
chain in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin


def edges_from_pairs(
    df: DataFrame, src: str, dst: str, *, undirected: bool = True
) -> DataFrame:
    """Distinct edge list (src, dst) from any pair-bearing frame;
    ``undirected`` mirrors every edge so no node dangles."""
    e = df.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if undirected:
        # The two-leg union references `e` twice, so a pair-bearing JOIN
        # upstream executes once per leg.  r16 negative result (recorded
        # so it is not re-tried): emitting both orientations from ONE
        # reference via explode(array(struct...)) halves the probe scans
        # but measured SLOWER interleaved on both graph entries
        # (pagerank 4.28 vs 3.38 s, LPA communities 3.88 vs 3.17 s
        # min-of-3 at equal calib) — the per-row Generate/struct build
        # loses to a second cheap broadcast probe, the same
        # codegen-beats-HOF mechanism as the r15 collect_list and
        # one-scan stream-grid reverts.  A 100-TB caller whose pair
        # join is expensive should checkpoint `df` before calling.
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e.distinct()


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous updates from the
    uniform start.  Deterministic for a fixed edge set.

    Each round ships the node-sized (rank/outdeg) frame to executors so
    the EDGE table is never shuffled (a billion-edge graph with
    millions of nodes still fits a broadcast)."""
    # materialize the edge list once: every iteration (and deg/nodes/base)
    # re-reads it, and without this the upstream plan (scans, joins, the
    # distinct) re-executes per iteration — on the sf0.1 graph that made
    # 5 iterations cost 5 edge builds instead of 1
    edges, _ = pin(edges, "pagerank:edges")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_frame = nodes.agg(F.count("*").alias("n"))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # (node, base, outdeg, rank): base and outdeg are loop constants
    # carried INSIDE the rank frame, so an iteration is exactly one join
    # with the edges and one join back — no per-round deg/base joins.
    # every node has outdeg >= 1 here (it appears in edges as src or dst,
    # and deg counts the symmetric edge set)
    ranks = (
        nodes.crossJoin(F.broadcast(n_frame))
        .join(deg, nodes["node"] == deg["src"], "left")
        .select(
            "node",
            ((1.0 - damping) / F.col("n")).alias("base"),
            F.coalesce(F.col("outdeg"), F.lit(1)).alias("outdeg"),
            (F.lit(1.0) / F.col("n")).alias("rank"),
        )
        .repartition("node")
    )
    for it in range(iterations):
        rd = ranks.select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("outdeg")).alias("c"),
        )
        # broadcast the node-sized (rank/outdeg) frame: the edge
        # table is probed in place, never exchanged
        contrib = edges.join(F.broadcast(rd), "src").select(
            F.col("dst").alias("node"), "c"
        )
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("inc"))
        ranks = (
            ranks.drop("rank")
            .join(incoming, "node", "left")
            .select(
                "node",
                "base",
                "outdeg",
                (
                    F.col("base")
                    + damping * F.coalesce(F.col("inc"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # every round's broadcast materialization is a SEPARATE job
        # that replays the rank lineage from the last truncation point
        # — so truncate the (node-sized, cheap) frame every round
        # EXCEPT the last (nothing re-broadcasts after it; the final
        # consumer executes the last round's two joins once either way,
        # so the extra job is pure overhead)
        if it + 1 < iterations:
            ranks, _ = pin(ranks, "pagerank:ranks")
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 3,
    symmetrize: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007), made fully deterministic: every node starts
    labelled with its own id and each round adopts the most frequent
    label among its neighbours, ties broken by the SMALLEST label —
    ``(max count, min label)`` — so the result is a pure function of
    the edge set, independent of execution order (the original
    algorithm's random tie-breaks are the known reproducibility
    problem; the deterministic variant is standard practice for
    auditable pipelines).

    Per round: one edges ⋈ labels join, one (node, label) count
    aggregate, one per-node argmax via ``max_by(label,
    struct(cnt, -label))`` — no window, no collect; the label frame is
    node-sized and checkpoint-truncated per round (the pagerank loop
    discipline).  Fixed iteration count keeps it oracle-unrollable;
    LPA converges in very few rounds on community-structured graphs.
    Returns ``(node, label)``.

    Input contract: ``edges(src, dst)`` must be SYMMETRIZED (both
    directions present — labels are seeded from ``src`` and flow
    dst -> src, so a dst-only node of a directed edge list is silently
    dropped) with NUMERIC node ids (the ``-label`` tie-break negation
    fails analysis on strings).  Pass ``symmetrize=True`` to
    symmetrize a directed edge list internally (one union +
    distinct, the ``degree_assortativity`` recipe)."""
    num = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    kinds = {f.dataType.simpleString() for f in edges.schema.fields
             if f.name in ("src", "dst")}
    if not kinds <= num:
        raise TypeError(
            f"label_propagation needs numeric src/dst node ids, got {kinds}"
        )
    if symmetrize:
        edges = edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).where(F.col("src") != F.col("dst")).distinct()
    edges, _ = pin(edges, "lpa:edges")
    labels, _ = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node")),
        "lpa:labels",
    )
    for it in range(iterations):
        nbr = edges.join(
            labels.select(
                F.col("node").alias("dst"), F.col("lab").alias("nlab")
            ),
            "dst",
        ).select(F.col("src").alias("node"), F.col("nlab"))
        counts = nbr.groupBy("node", "nlab").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        new_labels = counts.groupBy("node").agg(
            F.max_by(
                "nlab", F.struct(F.col("cnt"), (-F.col("nlab")).alias("neg"))
            ).alias("lab")
        )
        last = it + 1 == iterations
        labels = new_labels if last else pin(new_labels, "lpa:round")[0]
    return labels.select("node", F.col("lab").alias("label"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    The ordered-wedge strategy (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): edges are
    canonicalized to ``u < v``, wedges enumerate as one self-join on
    the middle vertex with ``u < v < w``, and a second join against the
    canonical edge set closes them.  Every triangle is produced exactly
    once; work is Σ wedge-count, never all-pairs.  Returns
    ``(node, triangles)`` for every vertex of the (symmetrized) input —
    zero for triangle-free nodes; ``agg(sum/3)`` of the column is 3x
    the global triangle count (each triangle credits its 3 corners)."""
    canon, _ = pin(
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "triangles:canon",
    )
    # wedges u < v < w centered at v, closed by the (u, w) edge
    tri = (
        canon.alias("a")
        .join(
            canon.alias("b"),
            (F.col("a.v") == F.col("b.u")),
        )
        .select(
            F.col("a.u").alias("u"), F.col("a.v").alias("v"),
            F.col("b.v").alias("w"),
        )
        .join(
            canon.select(
                F.col("u").alias("cu"), F.col("v").alias("cw")
            ),
            (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
        )
        .select("u", "v", "w")
    )
    # r16: corner credits via ONE reference to `tri` — the old three-leg
    # unionAll duplicated the whole triangle enumeration (both joins)
    # once per leg in the static plan (guide §2.4; same fix as the r15
    # item_similarity/association_rules symmetrization).  explode of the
    # 3-corner array yields the identical row multiset.
    corners = (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    nodes = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(corners, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge list —
    positive when high-degree nodes attach to each other (social
    graphs), negative for hub-and-spoke (web/biological).  One degree
    aggregate, two broadcast-eligible joins onto the symmetric edge
    list, one corr; the per-edge frame is never widened beyond the two
    degrees."""
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    j = (
        sym.join(deg.select(F.col("src"), F.col("deg").alias("deg_src")), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("deg").alias("deg_dst")
            ),
            "dst",
        )
    )
    return j.agg(
        F.corr(
            F.col("deg_src").cast("double"), F.col("deg_dst").cast("double")
        ).alias("assortativity"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
    )


def link_prediction(
    edges: DataFrame,
    *,
    symmetrize: bool = True,
    top_k: int = 20,
) -> DataFrame:
    """Common-neighbor link prediction scores (Liben-Nowell &
    Kleinberg, CIKM 2003): for every NON-adjacent pair (u, v) sharing
    at least one neighbor, the common-neighbor count, the Jaccard
    coefficient ``|N(u) n N(v)| / |N(u) u N(v)|`` and the
    Adamic-Adar score ``sum over shared w of 1/ln(deg(w))``.

    Scale shape (the triangle_count discipline): candidate pairs come
    from ONE wedge self-join on the middle vertex — work is
    wedge-count-sized, never all-pairs; the adjacency anti-join removes
    existing edges; degrees join from a node-sized table.  Adamic-Adar
    accumulates per shared MIDDLE vertex, so the float sum's operand
    set is fixed per pair — the per-pair groupBy sums 1/ln(deg) doubles
    whose addition order Spark may vary, so AA is reported rounded;
    common/Jaccard stay exact integers.  Top-``top_k`` by
    (common DESC, u, v) via TakeOrderedAndProject."""
    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    else:
        e = e.distinct()
    # `e` feeds FOUR legs (degrees, both wedge legs, the adjacency
    # anti-join) and `deg` three (AA weights, deg_u, deg_v) — left lazy,
    # the static plan replayed the symmetrize-distinct subtree per leg
    # (54 Exchanges on the modgraph entry).  Pin both once.
    e, _ = pin(e, "link_prediction:edges")
    deg, _ = pin(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        "link_prediction:deg",
    )
    # wedges u - w - v with u < v through middle w
    a = e.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = e.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    wedges = a.join(b, "w").where(F.col("u") < F.col("v"))
    wd = wedges.join(
        deg.select(F.col("src").alias("w"), F.col("deg").alias("deg_w")),
        "w",
    )
    pairs = wd.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common"),
        F.sum(1.0 / F.log(F.col("deg_w").cast("double"))).alias(
            "adamic_adar"
        ),
    )
    # remove already-connected pairs (canonical direction suffices on a
    # symmetrized edge set)
    canon = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    non_edges = pairs.join(canon, ["u", "v"], "left_anti")
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            (
                F.col("deg_u") + F.col("deg_v") - F.col("common")
            ).alias("union_deg"),
            (
                F.col("common").cast("double")
                / (
                    F.col("deg_u") + F.col("deg_v") - F.col("common")
                ).cast("double")
            ).alias("jaccard"),
            "adamic_adar",
        )
    )
    return scored.orderBy(
        F.col("common").desc(), F.col("u"), F.col("v")
    ).limit(top_k)


def hits_scores(
    edges: DataFrame,
    *,
    iterations: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) by synchronous
    power iteration over a DIRECTED edge list, with max- (L-infinity-)
    normalization each half-step.

    Exact-integer state: scores live as integers in ``scale`` units;
    each half-step is one edges-join-scores + one destination groupBy
    whose sums are EXACT (decimal-widened), and the renormalization
    divides by the exact max — so every iteration is bit-reproducible
    on any partitioning and the differential oracle unrolls the
    identical chain in SQL.

    r16 loop shape: the per-half-step state is the CHECKPOINTED raw-sum
    frame ``(__n, __raw)`` (only nodes with >= 1 in-edge on that
    orientation) and the rescaled score is a lazy PROJECTION of it —
    ``crossJoin(broadcast(max))`` then ``floor(raw*scale/max + 0.5)``.
    Nodes absent from the raw frame have score 0 and contribute 0 to
    the next half-step's sums, so dropping their explicit rows is
    value-identical (and the max is unaffected: the previous max-scorer
    always contributes a positive sum, so the L-inf max is never taken
    on a vanished zero-sum group).  Compared to the r14/r15 shapes this
    removes the per-half-step node-frame OUTER JOIN and the checkpoint
    of that joined frame (2*iterations node-sized joins + 2*iterations
    checkpoints become 2*iterations aggregates), and the L-inf max is a
    1-row broadcast — no unpartitioned window anywhere (the r15 window
    funnelled the node-sized frame through one partition per
    half-step)."""
    # edge and node frames feed every half-step: truncate their lineage
    # ONCE so the 2*iterations jobs don't each re-derive them
    e, _ = pin(
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        "hits:edges",
    )
    nodes, _ = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        "hits:nodes",
    )

    def rescaled(raw: DataFrame) -> DataFrame:
        # (node, score) view of a checkpointed raw-sum frame: 1-row
        # broadcast of the exact decimal max, same floor(+0.5) rescale
        # expression as the unrolled oracle.  __raw is never NULL (sum
        # over >= 1 row per group).
        mx = raw.agg(F.max("__raw").alias("__mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            F.col("__n").alias("node"),
            F.floor(
                F.col("__raw").cast("double") * F.lit(float(scale))
                / F.col("__mx").cast("double") + F.lit(0.5)
            ).cast("bigint").alias("score"),
        )

    def half_raw(score: DataFrame, join_key: str, group_key: str) -> DataFrame:
        return pin(
            e.join(score, e[join_key] == score["node"])
            .groupBy(F.col(group_key).alias("__n"))
            .agg(F.sum(F.col("score").cast("decimal(38,0)")).alias("__raw")),
            "hits:half_step",
        )[0]

    score = nodes.select(
        "node", F.lit(scale).cast("bigint").alias("score")
    )
    a_raw = None
    for _ in range(iterations):
        a_raw = half_raw(score, "src", "dst")
        h_raw = half_raw(rescaled(a_raw), "dst", "src")
        score = rescaled(h_raw)
    return (
        nodes.join(
            score.select(
                F.col("node").alias("__hn"), F.col("score").alias("__h")
            ),
            nodes["node"] == F.col("__hn"), "left")
        .join(
            rescaled(a_raw).select(
                F.col("node").alias("__an"), F.col("score").alias("__a")
            ),
            nodes["node"] == F.col("__an"), "left")
        .select(
            "node",
            (F.coalesce(F.col("__h"), F.lit(0)).cast("double")
             / F.lit(float(scale))).alias("hub"),
            (F.coalesce(F.col("__a"), F.lit(0)).cast("double")
             / F.lit(float(scale))).alias("authority"),
        )
    )


def kcore_members(
    edges: DataFrame,
    k: int,
    *,
    symmetrize: bool = True,
    max_rounds: int = 30,
) -> DataFrame:
    """The k-core of a graph — the maximal subgraph where every node
    has degree >= k (Seidman, Social Networks 1983) — by iterative
    peeling: drop nodes of degree < k, recompute, repeat to fixpoint.

    Each round is ONE degree aggregate + two semi-joins on the
    surviving edge set (node-sized keep list, broadcast by AQE when
    small); the edge frame is pinned per round, the pin observes its
    edge count, and the loop stops when that count stops changing (the
    connected-components discipline).  Raises after ``max_rounds``
    without convergence.  Returns ``(node, degree)`` within the k-core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if symmetrize:
        e = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
    cur, m = pin(e.distinct(), "kcore:edges", n=F.count(F.lit(1)))
    n_cur = m["n"]
    for _ in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.where(F.col("__deg") >= k).select("src")
        nxt, m = pin(
            cur.join(keep, "src", "leftsemi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "leftsemi"),
            "kcore:round",
            n=F.count(F.lit(1)),
        )
        n_nxt = m["n"]
        if n_nxt == n_cur:
            break
        cur, n_cur = nxt, n_nxt
    else:
        raise RuntimeError(
            f"k-core peeling did not converge in {max_rounds} rounds"
        )
    return cur.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
