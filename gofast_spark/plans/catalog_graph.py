"""Catalog entries: Bloom-filter runtime pruning, PageRank centrality,
count-min frequency sketches.

Each oracle rebuilds the full algorithm relationally in DuckDB from the
same public hash constants (operators/bloom.py seeds, text/hashing LCG),
so the differential gate verifies bit positions, counter grids, and the
unrolled power iteration — not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofast_spark.operators.bloom import bit_pos_sql
from gofast_spark.functions.cms import cell_sql
from gofast_spark.plans.catalog import _t, query
from gofast_spark.text.hashing import char_hash_sql

_N_BITS = 8192
_K = 3


def _bloom_bits_cte() -> str:
    """Union of the k bit positions over the dim key set."""
    parts = " UNION ".join(
        f"SELECT {bit_pos_sql('k', j, _N_BITS)} AS pos FROM dimk"
        for j in range(_K)
    )
    return f"bits AS ({parts})"


@query(
    "bloom_prefilter_orders",
    oracle=f"""
    WITH dimk AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'),
    {_bloom_bits_cte()}
    SELECT o_orderkey, o_custkey FROM orders
    WHERE {" AND ".join(
        f"{bit_pos_sql('o_custkey', j, _N_BITS)} IN (SELECT pos FROM bits)"
        for j in range(_K)
    )}
    """,
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bloom-pruned fact scan (the explicit runtime
    filter, exact=False so the oracle checks the filter itself —
    false positives are a deterministic function of the key set)."""
    from gofast_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders")
    dim = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    out = bloom_semi_join(
        orders,
        dim,
        fact_key="o_custkey",
        dim_key="c_custkey",
        n_bits=_N_BITS,
        k=_K,
        exact=False,
    )
    return out.select("o_orderkey", "o_custkey")


_PR_ITER = 5
_PR_D = 0.85
_SUPP_OFFSET = 1_000_000


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration synchronous PageRank chain (same pattern as
    the gradient_descent / IGLS unrolled oracles)."""
    ctes = [
        f"""pairs AS (
      SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,
             CAST(l.l_suppkey + {_SUPP_OFFSET} AS BIGINT) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT src, dst FROM pairs
      UNION
      SELECT dst AS src, src AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for t in range(1, _PR_ITER + 1):
        ctes.append(
            f"""i{t} AS (
      SELECT e.dst AS node, sum(r.rank / d.outdeg) AS inc
      FROM edges e
      JOIN r{t - 1} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst),
    r{t} AS (
      SELECT nd.node,
             (1 - {_PR_D}) / nn.n + {_PR_D} * coalesce(i.inc, 0) AS rank
      FROM nodes nd CROSS JOIN nn LEFT JOIN i{t} i ON i.node = nd.node)"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT node, CAST(round(rank, 8) AS DOUBLE) AS rank
    FROM r{_PR_ITER}
    """


@query("pagerank_customer_supplier", oracle=_pagerank_oracle())
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the undirected customer-supplier
    trading graph (orders x lineitem), 5 synchronous iterations —
    verified against a fully unrolled SQL power iteration."""
    from gofast_spark.ml.graph import edges_from_pairs, pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("cust"),
        (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
    )
    e = edges_from_pairs(pairs, "cust", "supp", undirected=True)
    r = pagerank(e, iterations=_PR_ITER, damping=_PR_D)
    return r.select("node", F.round("rank", 8).cast("double").alias("rank"))


_CMS_W = 256
_CMS_D = 3


@query(
    "cms_heavy_hitters_events",
    oracle=f"""
    WITH keyed AS (
      SELECT event_type, {char_hash_sql('event_type')} AS h FROM events),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS rw, {cell_sql('h', j, _CMS_W)} AS cl FROM keyed"
        for j in range(_CMS_D)
      )}),
    grid AS (SELECT rw, cl, count(*) AS cnt FROM cells GROUP BY rw, cl),
    total AS (SELECT count(*) AS n_total FROM events),
    cand AS (
      SELECT DISTINCT event_type, {char_hash_sql('event_type')} AS h
      FROM events),
    probe AS (
      {" UNION ALL ".join(
        f"SELECT event_type, {j} AS rw, {cell_sql('h', j, _CMS_W)} AS cl FROM cand"
        for j in range(_CMS_D)
      )}),
    est AS (
      SELECT p.event_type, min(coalesce(g.cnt, 0)) AS est
      FROM probe p LEFT JOIN grid g USING (rw, cl)
      GROUP BY p.event_type)
    SELECT event_type, CAST(est AS BIGINT) AS est,
           CAST(n_total AS BIGINT) AS n_total
    FROM est CROSS JOIN total
    WHERE est >= 0.1 * n_total
    """,
)
def cms_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter event types by count-min estimate (>= 10% of rows)
    — the grid, probes, and min-estimates all hash-verified."""
    from gofast_spark.functions.cms import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    out = cms_heavy_hitters(
        ev, "event_type", min_share=0.1, width=_CMS_W, depth=_CMS_D
    )
    return out.select(
        "event_type",
        F.col("est").cast("bigint").alias("est"),
        F.col("n_total").cast("bigint").alias("n_total"),
    )


@query(
    "merge_upsert_customer",
    oracle="""
    WITH src AS (
      SELECT o_custkey AS c_custkey,
             CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS c_acctbal
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_custkey),
    tgt AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
    SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN 'UPDATED'
                ELSE t.c_name END AS c_name,
           CAST(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS DOUBLE) AS c_acctbal
    FROM tgt t FULL OUTER JOIN src s ON s.c_custkey = t.c_custkey
    """,
)
def merge_upsert_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics (operators/merge_upsert.py): apply an
    urgent-order spend batch to the customer table — matched keys take
    the batch row wholesale (UPDATE replaces the row, the standard
    MERGE contract), unmatched batch keys insert.  The oracle is an
    independent FULL OUTER JOIN resolution that must agree
    row-for-row."""
    from gofast_spark.operators.merge_upsert import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    src = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.round(F.sum("o_totalprice"), 2)
            .cast("double")
            .alias("c_acctbal")
        )
        .withColumn("c_name", F.lit("UPDATED"))
        .select("c_custkey", "c_name", "c_acctbal")
    )
    return merge_upsert(
        cust,
        src,
        "c_custkey",
        update_condition=None,
        check_unique_source=False,
    )


@query(
    "scd2_history_customer",
    oracle="""
    SELECT c_custkey, c_mktsegment, DATE '2024-01-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment, DATE '2024-01-01', DATE '2024-06-01',
           FALSE
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, 'MOVED', DATE '2024-06-01', CAST(NULL AS DATE), TRUE
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def scd2_history_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/scd.py): bootstrap from the
    customer snapshot, apply a segment-change batch (BUILDING -> MOVED,
    effective 2024-06-01), then RE-APPLY the identical batch — the
    second merge must be a structural no-op (idempotent re-delivery),
    which the oracle verifies by construction: changed keys close at
    the effective date and reopen, unchanged keys keep their single
    open row.  Everything is key joins + unions; no history window."""
    from gofast_spark.operators.scd import scd2_init, scd2_merge

    snap = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").cast("date").alias("eff"),
    )
    hist = scd2_init(snap, "eff")
    upd = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.lit("2024-06-01").cast("date").alias("eff"),
    )
    merged = scd2_merge(hist, upd, "c_custkey", ["c_mktsegment"], "eff")
    replayed = scd2_merge(merged, upd, "c_custkey", ["c_mktsegment"], "eff")
    return replayed.select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to", "is_current"
    )


def _morton_sql(x: str, y: str, bits: int = 8) -> str:
    """DuckDB replay of sources.zorder.interleave_bits for two columns:
    bit j of col0 lands at 2j, of col1 at 2j+1."""
    terms = []
    for j in range(bits):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


@query(
    "zorder_write_morton_orders",
    oracle=f"""
    WITH m AS (
      SELECT CAST({_morton_sql("(o_custkey % 256)", "(o_orderkey % 256)")}
             AS BIGINT) AS z
      FROM orders)
    SELECT CAST(z >> 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(z) AS BIGINT) AS z_sum
    FROM m GROUP BY 1
    """,
)
def zorder_write_morton_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write + re-read + Morton checksum
    (sources/zorder.py): orders is written clustered on the Morton
    interleave of (custkey, totalprice) rank space, re-read, and the
    deterministic modular-key interleave is aggregated per bucket — the
    oracle replays the bit arithmetic from the SOURCE table, so a hash
    match proves both write/read fidelity and the interleave itself.
    (File-level min/max locality is asserted in tests/test_zorder.py —
    layout is not SQL-observable.)"""
    import os as _os

    from gofast_spark.plans.catalog_io import _scratch
    from gofast_spark.sources.zorder import interleave_bits, write_zordered

    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _os.path.join(_scratch("zorder"), "orders")
    write_zordered(
        src, path, ["o_custkey", "o_totalprice"], bits=8, num_files=4
    )
    back = spark.read.parquet(path)
    z = interleave_bits(
        [
            F.pmod(F.col("o_custkey"), F.lit(256)),
            F.pmod(F.col("o_orderkey"), F.lit(256)),
        ],
        bits=8,
    )
    return (
        back.withColumn("z", z)
        .groupBy(F.shiftright(F.col("z"), 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("z").alias("z_sum"),
        )
    )


@query(
    "table_diff_customer",
    oracle="""
    WITH old AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal
      FROM customer WHERE c_custkey % 7 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEW', CAST(0.0 AS DOUBLE)
      FROM customer WHERE c_custkey % 13 = 0)
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN o.c_custkey IS NULL THEN 'insert'
                ELSE 'update' END AS change,
           o.c_mktsegment AS c_mktsegment_old,
           n.c_mktsegment AS c_mktsegment_new,
           o.c_acctbal AS c_acctbal_old,
           n.c_acctbal AS c_acctbal_new
    FROM old o FULL OUTER JOIN new n ON n.c_custkey = o.c_custkey
    WHERE n.c_custkey IS NULL OR o.c_custkey IS NULL
       OR o.c_mktsegment <> n.c_mktsegment
    """,
)
def table_diff_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/diff.py table_diff): CDC
    extraction between two customer snapshots — deletes (key%7==0),
    segment updates (key%10==0), synthetic inserts — as ONE full outer
    join + codegen classification; the oracle is an independent CASE
    resolution of the same join."""
    from gofast_spark.operators.diff import table_diff

    old = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    upd = old.where(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
    )
    ins = old.where(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    new = upd.unionByName(ins)
    return table_diff(old, new, "c_custkey")


_LPA_ITER = 3


def _lpa_oracle() -> str:
    """Unrolled deterministic synchronous LPA: per round, neighbour-label
    counts then argmax with the (max count, min label) tie-break as a
    rank window — the exact semantics of ml.graph.label_propagation."""
    ctes = [
        f"""pairs AS (
      SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,
             CAST(l.l_suppkey + {_SUPP_OFFSET} AS BIGINT) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT src, dst FROM pairs
      UNION
      SELECT dst AS src, src AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""
    ]
    for t in range(1, _LPA_ITER + 1):
        ctes.append(
            f"""c{t} AS (
      SELECT e.src AS node, p.lab AS nlab, count(*) AS cnt
      FROM edges e JOIN l{t - 1} p ON p.node = e.dst
      GROUP BY e.src, p.lab),
    l{t} AS (
      SELECT node, nlab AS lab FROM (
        SELECT node, nlab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, nlab) AS rn
        FROM c{t}) WHERE rn = 1)"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT node, lab AS label FROM l{_LPA_ITER}
    """


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    customer-supplier trading graph (ml/graph.py label_propagation;
    Raghavan et al. 2007) — per round one edge join, one (node, label)
    count, one max_by argmax with the (max count, min label)
    tie-break; the oracle unrolls the identical chain with a rank
    window."""
    from gofast_spark.ml.graph import edges_from_pairs, label_propagation

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("cust"),
        (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
    )
    e = edges_from_pairs(pairs, "cust", "supp", undirected=True)
    return label_propagation(e, iterations=_LPA_ITER)


@query(
    "triangle_count_modgraph",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT CAST(c_custkey % 60 AS BIGINT) AS src,
             CAST((c_custkey * 7 + 3) % 60 AS BIGINT) AS dst
      FROM customer),
    canon AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM raw WHERE src <> dst),
    tri AS (
      SELECT a.u, a.v, b.v AS w
      FROM canon a JOIN canon b ON b.u = a.v
      JOIN canon c ON c.u = a.u AND c.v = b.v),
    corners AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri) GROUP BY node),
    nodes AS (
      SELECT u AS node FROM canon UNION SELECT v FROM canon)
    SELECT n.node, CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles
    FROM nodes n LEFT JOIN corners c ON c.node = n.node
    """,
)
def triangle_count_modgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts via the ordered-wedge strategy (Suri &
    Vassilvitskii WWW 2011; ml/graph.py triangle_count) over a
    deterministic modular graph on customer keys — wedges u<v<w from
    one self-join on the middle vertex, closed by the canonical edge
    set; work is wedge-count-sized, never all-pairs.  The oracle
    replays the identical canonical joins."""
    from gofast_spark.ml.graph import triangle_count

    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 60).cast("long").alias("dst"),
    ).distinct()
    return triangle_count(edges)


@query(
    "degree_assortativity_modgraph",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT CAST(c_custkey % 60 AS BIGINT) AS src,
             CAST((c_custkey * 7 + 3) % 60 AS BIGINT) AS dst
      FROM customer),
    sym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw UNION ALL
        SELECT dst, src FROM raw) WHERE src <> dst),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src)
    SELECT CAST(round(corr(CAST(ds.deg AS DOUBLE), CAST(dd.deg AS DOUBLE)), 6)
             AS DOUBLE) AS assortativity,
           CAST(count(*) / 2 AS BIGINT) AS n_edges
    FROM sym
    JOIN deg ds ON ds.src = sym.src
    JOIN deg dd ON dd.src = sym.dst
    """,
)
def degree_assortativity_modgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002, ml/graph.py) over the same
    deterministic modular graph as the triangle entry — endpoint-degree
    correlation from one degree aggregate + two joins."""
    from gofast_spark.ml.graph import degree_assortativity

    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 60).cast("long").alias("dst"),
    ).distinct()
    out = degree_assortativity(edges)
    return out.select(
        F.round("assortativity", 6).cast("double").alias("assortativity"),
        "n_edges",
    )


def _community_density_oracle() -> str:
    """Composed oracle: the modular-graph LPA unroll (same semantics as
    _lpa_oracle, over the symmetrized c%60 graph) feeding the triangle
    corner counts — certifying that the two graph operators CHAIN."""
    ctes = [
        """raw AS (
      SELECT DISTINCT CAST(c_custkey % 60 AS BIGINT) AS src,
             CAST((c_custkey * 7 + 3) % 60 AS BIGINT) AS dst
      FROM customer),
    edges AS (
      SELECT src, dst FROM raw WHERE src <> dst
      UNION
      SELECT dst AS src, src AS dst FROM raw WHERE src <> dst),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""
    ]
    for t in range(1, _LPA_ITER + 1):
        ctes.append(
            f"""c{t} AS (
      SELECT e.src AS node, p.lab AS nlab, count(*) AS cnt
      FROM edges e JOIN l{t - 1} p ON p.node = e.dst
      GROUP BY e.src, p.lab),
    l{t} AS (
      SELECT node, nlab AS lab FROM (
        SELECT node, nlab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, nlab) AS rn
        FROM c{t}) WHERE rn = 1)"""
        )
    ctes.append(
        """canon AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM raw WHERE src <> dst),
    tri AS (
      SELECT a.u, a.v, b.v AS w
      FROM canon a JOIN canon b ON b.u = a.v
      JOIN canon c ON c.u = a.u AND c.v = b.v),
    corners AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri) GROUP BY node)"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT l.lab AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(coalesce(c.triangles, 0)) AS BIGINT)
             AS corner_triangles,
           CAST(sum(coalesce(c.triangles, 0))
                / CAST(count(*) AS DOUBLE) AS DOUBLE)
             AS triangles_per_node
    FROM l{_LPA_ITER} l LEFT JOIN corners c ON c.node = l.node
    GROUP BY l.lab
    """


@query("community_triangle_density", oracle=_community_density_oracle())
def community_triangle_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition entry: LPA communities -> per-community triangle
    density, chaining label_propagation (symmetrize=True) and
    triangle_count over the SAME modular graph in one lazy plan (the
    graph analogue of corpus_build_pipeline) — per community the node
    count, summed corner-triangle participations, and triangles per
    node.  Proves the graph operators compose without driver
    round-trips beyond their own checkpoint discipline."""
    from gofast_spark.ml.graph import label_propagation, triangle_count

    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 60).cast("long").alias("dst"),
    ).distinct()
    labels = label_propagation(
        edges, iterations=_LPA_ITER, symmetrize=True
    ).select(F.col("node").alias("lnode"), F.col("label").alias("community"))
    tri = triangle_count(edges).select(
        F.col("node").alias("tnode"), "triangles"
    )
    return (
        labels.join(tri, labels["lnode"] == tri["tnode"], "left")
        .select(
            "community",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        )
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("triangles").cast("bigint").alias("corner_triangles"),
            (
                F.sum("triangles")
                / F.count(F.lit(1)).cast("double")
            ).alias("triangles_per_node"),
        )
    )


@query(
    "scd2_pit_join_orders",
    oracle="""
    WITH hist AS (
      SELECT c_custkey, c_mktsegment, DATE '1995-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to
      FROM customer WHERE c_mktsegment <> 'BUILDING'
      UNION ALL
      SELECT c_custkey, c_mktsegment, DATE '1995-01-01', DATE '1998-01-01'
      FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey, 'MOVED', DATE '1998-01-01', CAST(NULL AS DATE)
      FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT h.c_mktsegment AS segment_at_order,
           count(*) AS n_orders,
           CAST(sum(CAST(trunc(o.o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS revenue_c
    FROM orders o JOIN hist h
      ON h.c_custkey = o.o_custkey
     AND CAST(o.o_orderdate AS DATE) >= h.valid_from
     AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to)
    GROUP BY h.c_mktsegment
    """,
)
def scd2_pit_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 enrichment (operators/scd.py
    scd2_point_in_time): orders join the customer-segment VERSION valid
    at each order date (history: BUILDING -> MOVED effective
    1998-01-01, mid date-range), aggregated to cent-exact revenue per
    effective segment.  The equi-key join carries the validity window
    as a residual filter — no cartesian, at most one version per fact
    row; the oracle replays the interval join from the same synthetic
    history."""
    from gofast_spark.operators.scd import scd2_init, scd2_merge
    from gofast_spark.operators.scd import scd2_point_in_time

    snap = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.lit("1995-01-01").cast("date").alias("eff"),
    )
    hist = scd2_init(snap, "eff")
    upd = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.lit("1998-01-01").cast("date").alias("eff"),
    )
    history = scd2_merge(hist, upd, "c_custkey", ["c_mktsegment"], "eff")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    joined = scd2_point_in_time(
        orders, history, ("o_custkey", "c_custkey"), "odate", how="inner"
    )
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment_at_order")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("revenue_c"),
    )


@query(
    "link_prediction_modgraph",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT CAST(c_custkey % 60 AS BIGINT) AS src,
             CAST((c_custkey * 7 + 3) % 60 AS BIGINT) AS dst
      FROM customer),
    sym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw UNION ALL
        SELECT dst, src FROM raw) WHERE src <> dst),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    wedges AS (
      SELECT a.dst AS u, b.dst AS v, a.src AS w
      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst),
    wd AS (
      SELECT u, v, deg.deg AS deg_w
      FROM wedges JOIN deg ON deg.src = wedges.w),
    pairs AS (
      SELECT u, v, count(*) AS common,
             sum(1.0 / ln(CAST(deg_w AS DOUBLE))) AS adamic_adar
      FROM wd GROUP BY u, v),
    canon AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
    ne AS (
      SELECT p.* FROM pairs p
      LEFT JOIN canon c ON c.u = p.u AND c.v = p.v
      WHERE c.u IS NULL),
    scored AS (
      SELECT ne.u, ne.v, common,
             du.deg + dv.deg - common AS union_deg,
             CAST(common AS DOUBLE)
               / CAST(du.deg + dv.deg - common AS DOUBLE) AS jaccard,
             adamic_adar
      FROM ne
      JOIN deg du ON du.src = ne.u
      JOIN deg dv ON dv.src = ne.v)
    SELECT u, v, CAST(common AS BIGINT) AS common,
           CAST(union_deg AS BIGINT) AS union_deg,
           CAST(round(jaccard, 6) AS DOUBLE) AS jaccard,
           CAST(round(adamic_adar, 6) AS DOUBLE) AS adamic_adar
    FROM scored
    ORDER BY common DESC, u, v LIMIT 20
    """,
)
def link_prediction_modgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the modular graph
    (ml/graph.py link_prediction; Liben-Nowell & Kleinberg 2003):
    candidate non-edges from ONE wedge join (wedge-count-sized, never
    all-pairs), exact integer common/Jaccard, Adamic-Adar per shared
    middle — the recommender face of the triangle machinery."""
    from gofast_spark.ml.graph import link_prediction

    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 60).cast("long").alias("dst"),
    ).distinct()
    out = link_prediction(edges, symmetrize=True, top_k=20)
    return out.select(
        "u", "v", "common",
        F.col("union_deg").cast("bigint").alias("union_deg"),
        F.round("jaccard", 6).cast("double").alias("jaccard"),
        F.round("adamic_adar", 6).cast("double").alias("adamic_adar"),
    )


_HITS_ITER = 4
_HITS_SCALE = 10**12

_MOD2_RAW = """
      SELECT DISTINCT src, dst FROM (
        SELECT CAST(c_custkey % 60 AS BIGINT) AS src,
               CAST((c_custkey * 7 + 3) % 60 AS BIGINT) AS dst
        FROM customer
        UNION ALL
        SELECT CAST(c_custkey % 60 AS BIGINT) AS src,
               CAST((c_custkey * c_custkey + 1) % 60 AS BIGINT) AS dst
        FROM customer)
      WHERE src <> dst"""


def _mod2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-map modular graph on customer keys: i -> (7i+3)%60 and
    i -> (i^2+1)%60 — varied in/out degrees (the single-map graph is a
    permutation, which makes HITS degenerate)."""
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 60).cast("long").alias("dst"),
    )
    b = c.select(
        (F.col("c_custkey") % 60).cast("long").alias("src"),
        ((F.col("c_custkey") * F.col("c_custkey") + 1) % 60)
        .cast("long").alias("dst"),
    )
    return a.union(b).where(F.col("src") != F.col("dst")).distinct()


def _hits_oracle() -> str:
    """Unrolled 4-iteration HITS chain with exact HUGEINT state and
    max-normalization — the same bit-reproducible recipe as the
    pagerank/gradient-descent unrolled oracles."""
    s = _HITS_SCALE
    ctes = [
        f"""raw AS ({_MOD2_RAW}),
    nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
    h0 AS (SELECT node, CAST({s} AS HUGEINT) AS s FROM nodes)"""
    ]

    def half(out: str, inp: str, jk: str, gk: str) -> str:
        # every CTE is referenced exactly ONCE by the next level: DuckDB
        # inlines CTEs, so a twice-referenced max-CTE doubles work per
        # level (2^8 blowup over 4 iterations) — the max rides a window
        # function instead
        return f"""{out}r AS (
      SELECT e.{gk} AS n, sum(x.s) AS raw
      FROM raw e JOIN {inp} x ON x.node = e.{jk} GROUP BY 1),
    {out}n AS (
      SELECT n, CAST(floor(CAST(raw AS DOUBLE) * 1e12
                           / CAST(max(raw) OVER () AS DOUBLE) + 0.5)
               AS HUGEINT) AS s
      FROM {out}r),
    {out} AS (
      SELECT nd.node, coalesce(x.s, CAST(0 AS HUGEINT)) AS s
      FROM nodes nd LEFT JOIN {out}n x ON x.n = nd.node)"""

    for t in range(1, _HITS_ITER + 1):
        ctes.append(half(f"a{t}", f"h{t - 1}", "src", "dst"))
        ctes.append(half(f"h{t}", f"a{t}", "dst", "src"))
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT nd.node,
           CAST(h.s AS DOUBLE) / 1e12 AS hub,
           CAST(a.s AS DOUBLE) / 1e12 AS authority
    FROM nodes nd
    JOIN h{_HITS_ITER} h ON h.node = nd.node
    JOIN a{_HITS_ITER} a ON a.node = nd.node
    """


@query("hits_scores_modgraph", oracle=_hits_oracle())
def hits_scores_modgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (ml/graph.py hits_scores; Kleinberg 1999)
    over the two-map modular graph — exact-integer max-normalized
    power iteration, every half-step one join + one groupBy, oracle
    unrolls the identical chain."""
    from gofast_spark.ml.graph import hits_scores

    return hits_scores(
        _mod2_edges(spark, sf_dir), iterations=_HITS_ITER,
        scale=_HITS_SCALE,
    )


_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled k-core peel: R fixed rounds (the engine converges in 2
    on this graph; extra rounds are no-ops once stable)."""
    ctes = [
        f"""raw AS ({_MOD2_RAW}),
    e0 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw))"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{r} AS (SELECT src, count(*) AS deg FROM e{r - 1} GROUP BY 1),
    k{r} AS (SELECT src FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS (
      SELECT e.src, e.dst FROM e{r - 1} e
      JOIN k{r} a ON a.src = e.src
      JOIN k{r} b ON b.src = e.dst)"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY 1
    """


@query("kcore_members_modgraph", oracle=_kcore_oracle())
def kcore_members_modgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core membership + in-core degree (ml/graph.py kcore_members;
    Seidman 1983) over the symmetrized two-map modular graph —
    iterative peel, one degree aggregate + two semi-joins per round,
    localCheckpoint'd edge state, convergence-raise discipline."""
    from gofast_spark.ml.graph import kcore_members

    return kcore_members(
        _mod2_edges(spark, sf_dir), _KCORE_K, symmetrize=True,
    )


@query(
    "kmv_distinct_users_events",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS rn
      FROM h),
    per AS (
      SELECT event_type, count(*) AS n_kept,
             max(CASE WHEN rn = 32 THEN h END) AS kth
      FROM r WHERE rn <= 32 GROUP BY 1),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT per.event_type,
           CAST(per.n_kept AS BIGINT) AS n_kept,
           CASE WHEN per.n_kept < 32 THEN CAST(per.n_kept AS DOUBLE)
                ELSE 31.0 / (CAST(kth AS DOUBLE)
                             / 1152921504606846976.0) END AS estimate,
           CAST(ex.n_exact AS BIGINT) AS n_exact
    FROM per JOIN ex ON ex.event_type = per.event_type
    """,
)
def kmv_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a k-minimum-values
    sketch, k=32, against the exact count (functions/sketches.py
    kmv_estimate; Bar-Yossef et al. 2002) — unlike HLL the KMV kth-min
    is fully deterministic, so the oracle replays it bit-for-bit;
    mergeable by keeping the k smallest of unioned sketches."""
    from gofast_spark.functions.sketches import kmv_estimate

    e = _t(spark, sf_dir, "events")
    est = kmv_estimate(e, "user_id", "event_type", k=32)
    exact = (
        e.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_kept", "estimate", "n_exact"
    )
