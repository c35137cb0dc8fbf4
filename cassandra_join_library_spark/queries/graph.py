"""Graph queries over the part co-purchase graph (parts linked when one
order holds both): triangles, degrees, PageRank, BFS, k-cores, clustering,
label propagation, reachability and HyperBall neighbourhood sketches.
Iterative algorithms unroll a fixed number of rounds on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..operators.graph import (
    bfs_hops, bfs_sql, degree_assortativity, edge_jaccard, kcore_profile,
    local_clustering, rich_club, triangle_participation,
)
from ..operators.sketch import _h60, _HLL_PAYLOAD_BITS, HLL_M
from ..operators.stats import _RDIV
from ..registry import register
from ..sources.catalog import load_table
from ._shared import _rdiv_sql


def _pagerank_oracle():
    from ..operators.graph import pagerank_sql

    return pagerank_sql(n_iter=4, damping_pct=85)


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark, sf_dir):
    """Exact fixed-point PageRank over the customer↔supplier
    co-purchase graph (edges both directions through order lineitems)
    — 4 Pregel-style iterations of edge⋈rank join + destination agg,
    all integer microunits (operators/graph.py), so the unrolled CTE
    oracle reproduces every rank bit-for-bit.  The centrality signal
    a marketplace risk/recommendation pipeline consumes."""
    from ..operators.graph import pagerank_fixed_point

    return pagerank_fixed_point(*_customer_supplier_graph(spark, sf_dir),
                                n_iter=4, damping_pct=85)


def _customer_supplier_graph(spark, sf_dir):
    """``(nodes, edges)`` of the customer↔supplier co-purchase graph:
    one node per customer (``c``) and supplier (``s``), and an edge in
    both directions for each customer that ordered a supplier's part."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    nodes = cust.select(
        F.lit("c").alias("nt"), F.col("c_custkey").cast("long").alias("id")
    ).unionByName(supp.select(
        F.lit("s").alias("nt"), F.col("s_suppkey").cast("long").alias("id")))
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").cast("long").alias("c"),
                F.col("l_suppkey").cast("long").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.lit("c").alias("src_t"), F.col("c").alias("src"),
        F.lit("s").alias("dst_t"), F.col("s").alias("dst"),
    ).unionByName(pairs.select(
        F.lit("s").alias("src_t"), F.col("s").alias("src"),
        F.lit("c").alias("dst_t"), F.col("c").alias("dst"),
    ))
    return nodes, edges


_EDGE_CTE = """
li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON b.o = a.o AND b.p > a.p
)"""


def _copurchase_edges(spark, sf_dir):
    """Undirected part co-purchase edges (u < v): parts appearing in
    the same order.  Per-order fanout is k-choose-2 in the order's
    distinct part count — bounded by order size, not corpus size; at
    100 TB cap parts-per-order (top-k by quantity) before pairing."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"),
                F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # deliberately LAZY (no checkpoint here): consumers like
    # graph_two_hop_reach push per-branch pruning INTO this self-join
    # and regress 1.5x if the full edge list is force-materialized
    # (measured r12); operators whose every branch needs the full
    # list (rich_club) materialize at their own boundary instead
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def _copurchase_edges_both_ways(spark, sf_dir):
    """``_copurchase_edges`` as directed ``(u, v)`` rows, one per
    direction."""
    e = _copurchase_edges(spark, sf_dir)
    return (e.select("u", "v")
            .unionAll(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v"))))


@register("graph_triangle_count", oracle=f"""
WITH {_EDGE_CTE},
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
  SELECT x AS n FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT CAST(n AS BIGINT) AS node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY n
ORDER BY n_triangles DESC, node_id ASC LIMIT 20
""")
def graph_triangle_count(spark, sf_dir):
    """Top-20 parts by triangle participation in the co-purchase
    graph (operators/graph.py triangle_participation): degree-ordered
    orientation bounds every out-neighborhood by O(sqrt(|E|)), so the
    wedge join survives power-law hubs at 100 TB; the count is
    orientation-invariant, so the id-ordered SQL twin matches
    exactly."""
    return triangle_participation(_copurchase_edges(spark, sf_dir), top=20)


@register("graph_degree_distribution", oracle=f"""
WITH {_EDGE_CTE},
d AS (
  SELECT n, COUNT(*) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
  GROUP BY n
)
SELECT CAST(length(CAST(deg AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_degree,
       CAST(MAX(deg) AS BIGINT) AS max_degree
FROM d GROUP BY 1
""")
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the co-purchase graph in decimal-magnitude
    buckets (1-9, 10-99, ... — digit count is integer-exact in both
    engines, unlike log2 on doubles).  Two aggregations, both
    map-side-combinable; the power-law shape read off this histogram
    is what decides whether the triangle/PageRank passes need hub
    mitigation."""
    from ..operators.graph import degrees

    deg = degrees(_copurchase_edges(spark, sf_dir))
    return (
        deg.groupBy(
            F.length(F.col("deg").cast("string")).cast("bigint")
            .alias("magnitude"))
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.min("deg").cast("bigint").alias("min_degree"),
             F.max("deg").cast("bigint").alias("max_degree"))
    )


@register("graph_bfs_hops", oracle=bfs_sql("c_custkey % 50 = 0", 3))
def graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS over the customer↔supplier co-purchase graph
    (operators/graph.py bfs_hops): minimum hop distance from every
    50th customer, 3 label-propagation rounds (edge⋈dist join +
    dest-keyed MIN, edge list persisted once), reported as a hop
    histogram with unreached nodes at hop -1.  The reachability
    primitive under influence/contamination-spread audits; all-integer
    hops, unrolled-CTE oracle."""
    nodes, edges = _customer_supplier_graph(spark, sf_dir)
    seeds = (load_table(spark, sf_dir, "customer")
             .filter(F.col("c_custkey") % 50 == 0)
             .select(F.lit("c").alias("nt"),
                     F.col("c_custkey").cast("long").alias("id")))
    return bfs_hops(nodes, edges, seeds, max_hops=3)


_KCORE_K = 100


_KCORE_ROUNDS = 3


def _kcore_round_ctes() -> str:
    parts = []
    for r in range(1, _KCORE_ROUNDS + 1):
        p = f"e{r - 1}" if r > 1 else "e"
        parts.append(f"""d{r} AS MATERIALIZED (
  SELECT n, COUNT(*) AS deg
  FROM (SELECT u AS n FROM {p} UNION ALL SELECT v FROM {p}) GROUP BY 1
), k{r} AS MATERIALIZED (
  SELECT n FROM d{r} WHERE deg >= {_KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT p.u, p.v FROM {p} p
  JOIN k{r} a ON a.n = p.u JOIN k{r} b ON b.n = p.v
)""")
    return ",\n".join(parts)


def _kcore_stats_sql(r: int) -> str:
    e = "e" if r == 0 else f"e{r}"
    return f"""SELECT CAST({r} AS BIGINT) AS round,
       CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_edges
FROM (SELECT u AS n FROM {e} UNION ALL SELECT v FROM {e})"""


@register("graph_kcore_profile", oracle=f"""
WITH {_EDGE_CTE},
{_kcore_round_ctes()}
{" UNION ALL ".join(_kcore_stats_sql(r) for r in range(_KCORE_ROUNDS + 1))}
""")
def graph_kcore_profile(spark, sf_dir):
    """Fixed-round k-core peel profile of the co-purchase graph
    (operators/graph.py kcore_profile, k=100, 3 rounds): surviving
    node/edge counts after each peel — the degeneracy read.  Each
    round is one degree aggregate + two node-keyed joins (Pregel
    shape, like PageRank); the edge list is checkpointed per round so
    the plan stays flat.  Fixed rounds (not fixpoint) so the unrolled
    SQL twin matches whether or not the peel converged."""
    return kcore_profile(_copurchase_edges(spark, sf_dir),
                         k=_KCORE_K, rounds=_KCORE_ROUNDS)


@register("graph_edge_jaccard", oracle=f"""
WITH {_EDGE_CTE},
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), te AS (
  SELECT x AS u, y AS v FROM tri
  UNION ALL SELECT x, z FROM tri
  UNION ALL SELECT y, z FROM tri
), cn AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn FROM te GROUP BY 1, 2
), d AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), j AS (
  SELECT e.u, e.v, COALESCE(cn.cn, 0) AS cn, du.deg AS du, dv.deg AS dv,
         du.deg + dv.deg - 2 - COALESCE(cn.cn, 0) AS den
  FROM e
  LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
  JOIN d du ON du.n = e.u
  JOIN d dv ON dv.n = e.v
)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, cn, du, dv,
       CAST(CASE WHEN den <= 0 THEN 0
            ELSE {_rdiv_sql("1000000 * cn", "den")} END AS BIGINT)
         AS jaccard_micro
FROM j
ORDER BY jaccard_micro DESC, u ASC, v ASC
LIMIT 20
""")
def graph_edge_jaccard(spark, sf_dir):
    """Top-20 co-purchase edges by neighborhood Jaccard
    (operators/graph.py edge_jaccard): intersection = triangles
    through the edge via the degree-ordered wedge join (arboricity
    bound — same plan family as triangle counting), union from the
    degree table.  The backbone score for Jaccard graph
    sparsification; micro-unit rounded division, total order under
    the LIMIT."""
    return edge_jaccard(_copurchase_edges(spark, sf_dir), top=20)


@register("graph_assortativity", oracle=f"""
WITH {_EDGE_CTE},
d AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), both_dirs AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), ed AS (
  SELECT du.deg AS du, dv.deg AS dv
  FROM both_dirs
  JOIN d du ON du.n = both_dirs.u
  JOIN d dv ON dv.n = both_dirs.v
), a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(du * dv) AS BIGINT) AS sxy,
         CAST(SUM(du) AS BIGINT) AS sx,
         CAST(SUM(du * du) AS BIGINT) AS sxx,
         CAST(SUM(dv) AS BIGINT) AS sy,
         CAST(SUM(dv * dv) AS BIGINT) AS syy
  FROM ed
)
SELECT m, sxy, sx, sxx, sy, syy,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(m AS DOUBLE)) > 0
             AND (CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(m AS DOUBLE)) > 0
            THEN (CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(m AS DOUBLE))
                 / (sqrt(CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           / CAST(m AS DOUBLE))
                    * sqrt(CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                             / CAST(m AS DOUBLE)))
       END AS assortativity
FROM a
""")
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph
    (operators/graph.py degree_assortativity): Pearson correlation of
    endpoint degrees over both edge directions — the one number that
    decides whether the triangle/wedge plans need hub mitigation.
    Integer sufficient statistics in one aggregate; the two variance
    terms are sqrt'ed separately so no BIGINT product overflows."""
    return degree_assortativity(_copurchase_edges(spark, sf_dir))


@register("graph_local_clustering", oracle=f"""
WITH {_EDGE_CTE},
d AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), per_node AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT x AS n FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY 1
)
SELECT CAST(d.n AS BIGINT) AS node_id, d.deg,
       CAST(COALESCE(per_node.n_triangles, 0) AS BIGINT)
         AS n_triangles,
       CAST(2 * COALESCE(per_node.n_triangles, 0) AS DOUBLE)
         / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS clustering
FROM d LEFT JOIN per_node ON per_node.n = d.n
WHERE d.deg >= 5
ORDER BY clustering DESC, node_id
LIMIT 20
""")
def graph_local_clustering(spark, sf_dir):
    """Local clustering coefficient over the co-purchase graph
    (operators/graph.py local_clustering): per-node triangle counts
    from the degree-ordered oriented wedge join (arboricity-bounded,
    hub-safe) joined against degrees; 2*tri/(deg*(deg-1)) as one
    fixed IEEE division.  Top 20 among nodes with degree >= 5."""
    return local_clustering(
        _copurchase_edges(spark, sf_dir), min_deg=5, top=20)


@register("graph_rich_club", oracle=f"""
WITH {_EDGE_CTE},
d AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), per_d AS (
  SELECT deg, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1
), cum AS (
  SELECT deg,
         CAST(SUM(c) OVER (ORDER BY deg ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM per_d
), thr AS (
  SELECT CAST(MIN(deg) AS BIGINT) AS deg_threshold
  FROM cum WHERE 100 * cum >= 90 * n
), rich AS (
  SELECT d.n AS node FROM d CROSS JOIN thr
  WHERE d.deg > thr.deg_threshold
), mr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_rich
  FROM e JOIN rich ru ON ru.node = e.u
         JOIN rich rv ON rv.node = e.v
), nr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich
)
SELECT deg_threshold, n_rich, m_rich,
       CASE WHEN n_rich >= 2
            THEN CAST(2 * m_rich AS DOUBLE)
                 / CAST(n_rich * (n_rich - 1) AS DOUBLE) END AS phi
FROM thr CROSS JOIN nr CROSS JOIN mr
""")
def graph_rich_club(spark, sf_dir):
    """Rich-club coefficient of the co-purchase graph above the exact
    90th-percentile degree (operators/graph.py rich_club): do hubs
    interconnect?  The degree CDF and threshold are domain-bounded;
    the rich set broadcasts against one edge-list pass; phi is one
    fixed IEEE division."""
    return rich_club(_copurchase_edges(spark, sf_dir), pct=90)


@register("graph_two_hop_reach", oracle=f"""
WITH {_EDGE_CTE},
sym AS MATERIALIZED (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), d AS MATERIALIZED (
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1
), hop1 AS (
  SELECT sym.u, sym.v FROM sym
  JOIN d ON d.n = sym.v
  WHERE d.deg <= 100
), reach AS (
  SELECT DISTINCT h.u AS n, s.v AS w
  FROM hop1 h JOIN sym s ON s.u = h.v
  WHERE s.v <> h.u
)
SELECT CAST(n AS BIGINT) AS node_id,
       CAST(COUNT(*) AS BIGINT) AS n_two_hop
FROM reach GROUP BY 1
ORDER BY n_two_hop DESC, node_id
LIMIT 20
""")
def graph_two_hop_reach(spark, sf_dir):
    """Capped 2-hop reach: distinct nodes reachable within two hops
    through intermediates of degree <= 100 (the standard hub-exclusion
    guard — an uncapped 2-hop join is hub-quadratic; the cap bounds
    per-intermediate fanout and is reported honestly as part of the
    semantics).  Top 20 neighborhoods.  Two equi-joins over the
    symmetric edge list + a distinct — no cartesian anywhere."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    d = sym.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"))
    hop1 = (
        sym.join(d.withColumnRenamed("n", "v"), "v")
        .filter(F.col("deg") <= 100)
        .select("u", "v")
    )
    reach = (
        hop1.join(sym.select(F.col("u").alias("v"),
                             F.col("v").alias("w")), "v")
        .filter(F.col("w") != F.col("u"))
        .select(F.col("u").alias("n"), "w")
        .distinct()
    )
    return (
        reach.groupBy(F.col("n").cast("bigint").alias("node_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_two_hop"))
        .orderBy(F.desc("n_two_hop"), F.asc("node_id"))
        .limit(20)
    )


@register("graph_knn_degree_curve", oracle=f"""
WITH {_EDGE_CTE},
ed AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), deg AS (
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY 1
), nbr AS (
  SELECT ed.u AS n, dn.d AS nd
  FROM ed JOIN deg dn ON dn.n = ed.v
), per_node AS (
  SELECT n, CAST(SUM(nd) AS BIGINT) AS snd FROM nbr GROUP BY 1
)
SELECT deg.d AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(per_node.snd) AS BIGINT) AS sum_neighbor_deg,
       CAST({_rdiv_sql("1000000 * SUM(per_node.snd)",
                       "deg.d * COUNT(*)")} AS BIGINT) AS knn_micro
FROM per_node JOIN deg ON deg.n = per_node.n
GROUP BY deg.d
""")
def graph_knn_degree_curve(spark, sf_dir):
    """Average neighbor degree by degree class — knn(k), the degree-
    correlation curve behind the assortativity scalar
    (graph_assortativity): decreasing knn(k) = hubs attach to
    low-degree nodes (disassortative, typical of co-occurrence
    graphs).  Two node-keyed equi-joins + bounded aggregates (the
    curve has one row per distinct degree); the rounded-micro ratio
    keeps parity integer-exact.  Never materializes anything larger
    than the directed edge list."""
    ed = _copurchase_edges_both_ways(spark, sf_dir)
    deg = ed.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d"))
    nbr = (ed.join(deg.select(F.col("n").alias("v"),
                              F.col("d").alias("nd")), "v")
           .groupBy(F.col("u").alias("n"))
           .agg(F.sum("nd").cast("bigint").alias("snd")))
    return (
        nbr.join(deg, "n")
        .groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
             F.sum("snd").cast("bigint").alias("sum_neighbor_deg"))
        .select("degree", "n_nodes", "sum_neighbor_deg",
                F.expr(_RDIV.format(
                    a="1000000 * sum_neighbor_deg",
                    b="degree * n_nodes")).cast("bigint")
                .alias("knn_micro"))
    )


_LPA_ROUNDS = 2


def _lpa_round_sql(k: int) -> str:
    return (
        f"m{k} AS (\n"
        f"  SELECT ed.u AS n, l.lbl, CAST(COUNT(*) AS BIGINT) AS c\n"
        f"  FROM ed JOIN l{k - 1} l ON l.n = ed.v GROUP BY 1, 2\n"
        f"), l{k} AS (\n"
        f"  SELECT n, lbl FROM (\n"
        f"    SELECT n, lbl,\n"
        f"           row_number() OVER (PARTITION BY n\n"
        f"             ORDER BY c DESC, lbl) AS rk\n"
        f"    FROM m{k}) WHERE rk = 1\n"
        f")"
    )


@register("graph_label_propagation", oracle=f"""
WITH {_EDGE_CTE},
ed AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), l0 AS (
  SELECT DISTINCT u AS n, u AS lbl FROM ed
),
{", ".join(_lpa_round_sql(k) for k in range(1, _LPA_ROUNDS + 1))}
SELECT lbl AS label,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(n) AS BIGINT) AS min_node
FROM l{_LPA_ROUNDS} GROUP BY 1
""")
def graph_label_propagation(spark, sf_dir):
    """{rounds} synchronous rounds of MODE label propagation
    (community detection) on the co-purchase graph, made
    DETERMINISTIC: each node adopts its neighbors' most frequent
    label, ties broken by smallest label — the non-determinism that
    makes textbook LPA irreproducible is exactly what the tie-break
    removes, so the full label histogram is value-graded.  Per round:
    one edge⋈labels join + a (node, label) count + a node-PARTITIONED
    top-1 window, all keyed by node — the same per-round shape as
    BFS/PageRank (edge-linear, no global sort).  At 100 TB: persist
    the oriented edge list once, localCheckpoint the label table per
    round (flat lineage), stop on a converged-fraction threshold
    instead of a fixed round count."""
    ed = _copurchase_edges_both_ways(spark, sf_dir)
    # columnar persist, NOT localCheckpoint: the checkpoint stores
    # deserialized row blocks and OOM'd the shared heap at sf10, while
    # the compressed InMemoryRelation spills cleanly; lineage depth is
    # a non-issue at 2 rounds
    ed = ed.persist()
    ed.count()
    labels = ed.select(F.col("u").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl"))
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), "lbl")
    for _ in range(_LPA_ROUNDS):
        msgs = (ed.join(labels.select(F.col("n").alias("v"), "lbl"), "v")
                .groupBy(F.col("u").alias("n"), "lbl")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
        # per-round eager checkpoint: node-sized, truncates the
        # iterative lineage, and materializes THROUGH the cached edges
        labels = (msgs.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1).select("n", "lbl")
                  .localCheckpoint(eager=True))
    out = labels.groupBy(F.col("lbl").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("n").cast("bigint").alias("min_node"))
    ed.unpersist()
    return out


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    rounds=_LPA_ROUNDS)


_T = 2          # propagation rounds: balls of radius 1 and 2


_ZERO_TERM = 1 << (_HLL_PAYLOAD_BITS + 1)


def _ball_roll_sql(m: str, t: int) -> str:
    return (
        f"SELECT CAST({t} AS BIGINT) AS radius,\n"
        f"       CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS total_buckets_hit,\n"
        f"       CAST(CAST(SUM(CAST(2 ** ({_HLL_PAYLOAD_BITS + 1} - m) "
        f"AS DECIMAL(38,0)))\n"
        f"            + (CAST(COUNT(DISTINCT n) AS DECIMAL(38,0)) "
        f"* {HLL_M} - COUNT(*))\n"
        f"              * CAST({_ZERO_TERM} AS DECIMAL(38,0)) "
        f"AS DECIMAL(38,0)) AS VARCHAR) AS sum_s2\n"
        f"FROM {m}"
    )


@register("graph_hyperball_reach", oracle=f"""
WITH {_EDGE_CTE},
ed AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), nodes AS (
  SELECT DISTINCT u AS n FROM ed
), h AS (
  SELECT n, ('0x' || substr(md5(CAST(n AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM nodes
), m0 AS (
  SELECT n, hv % {HLL_M} AS j,
         CASE WHEN hv // {HLL_M} = 0 THEN {_HLL_PAYLOAD_BITS + 1}
              ELSE {_HLL_PAYLOAD_BITS + 1}
                   - length(bin(hv // {HLL_M})) END AS m
  FROM h
), m1 AS (
  SELECT n, j, MAX(m) AS m FROM (
    SELECT n, j, m FROM m0
    UNION ALL
    SELECT ed.u AS n, r.j, r.m FROM ed JOIN m0 r ON r.n = ed.v
  ) GROUP BY 1, 2
), m2 AS (
  SELECT n, j, MAX(m) AS m FROM (
    SELECT n, j, m FROM m1
    UNION ALL
    SELECT ed.u AS n, r.j, r.m FROM ed JOIN m1 r ON r.n = ed.v
  ) GROUP BY 1, 2
)
{_ball_roll_sql("m1", 1)}
UNION ALL
{_ball_roll_sql("m2", 2)}
""")
def graph_hyperball_reach(spark, sf_dir):
    """HyperBall (Boldi & Vigna): the approximate neighborhood
    function — how many nodes are within radius t of each node —
    WITHOUT materializing reach sets: every node carries a {m}-
    register portable HLL of its ball, and one round of "ball(v, t) =
    ball(v, t-1) ∪ neighbors' balls(t-1)" is just MAX-merging register
    tables through the edge list.  This is the composition the two
    sketch families were built for: per-node state is O({m})
    REGARDLESS of reach size, so the 100 TB version of "average
    2-hop reach" costs t edge-joins instead of a combinatorial
    wedge/path explosion (contrast graph_two_hop_reach, which is
    exact and hub-capped for that reason).  Determinism of the md5
    registers makes the full sketch state value-gradeable: per
    radius, the node count, total hit buckets, and the EXACT decimal
    sum of per-node harmonic S2 terms — the state a consumer divides
    into alpha·m² to read off per-node estimates.  Plan: node-keyed
    register tables, {t} edge⋈register joins with map-side MAX
    combine; nothing ever grows past nodes × {m} rows."""
    ed = _copurchase_edges_both_ways(spark, sf_dir)
    ed = ed.persist()
    n_ed = ed.count()
    # reduce-side width for the propagate stream (|edges| × ≤64
    # register rows): ~1M rows per task, clamped so tiny test graphs
    # don't pay hundreds of scheduler tasks and the dense sf1 graph
    # (~250M propagate rows) still gets the 256 ways that turned its
    # OOM into clean spill
    width = int(min(256, max(32, (n_ed * HLL_M) // 1_000_000)))
    nodes = ed.select(F.col("u").alias("n")).distinct()
    h = nodes.select("n", _h60(F.col("n")).alias("hv"))
    rank = F.when(
        F.shiftright("hv", HLL_M.bit_length() - 1) == 0,
        F.lit(_HLL_PAYLOAD_BITS + 1)
    ).otherwise(
        F.lit(_HLL_PAYLOAD_BITS + 1)
        - F.length(F.expr(
            f"bin(shiftright(hv, {HLL_M.bit_length() - 1}))")))
    m = h.select(
        "n", (F.col("hv") % HLL_M).cast("bigint").alias("j"),
        rank.cast("bigint").alias("m"))

    def roll(regs, t):
        return regs.agg(
            F.lit(t).cast("bigint").alias("radius"),
            F.countDistinct("n").cast("bigint").alias("n_nodes"),
            F.count(F.lit(1)).cast("bigint").alias("total_buckets_hit"),
            # exact DECIMAL(38,0) sum exceeds int64; emitted as its
            # decimal STRING — DuckDB's pandas export would silently
            # downcast a >2^63 decimal column to float64
            (F.sum(F.pow(F.lit(2).cast("bigint"),
                         _HLL_PAYLOAD_BITS + 1 - F.col("m"))
                   .cast("decimal(38,0)"))
             + (F.countDistinct("n").cast("decimal(38,0)") * HLL_M
                - F.count(F.lit(1)))
             * F.lit(_ZERO_TERM).cast("decimal(38,0)"))
            .cast("decimal(38,0)").cast("string").alias("sum_s2"),
        )

    out = None
    prev = None
    for t in range(1, _T + 1):
        prop = (ed.join(m.select(F.col("n").alias("v"), "j", "m"), "v")
                .select(F.col("u").alias("n"), "j", "m"))
        # the session's 32 shuffle partitions put whole-graph-sized
        # hash maps in each reduce task (OOM'd 8g at sf1); an explicit
        # size-scaled repartition on the MAX-merge key bounds per-task
        # state, and EnsureRequirements reuses the exchange for the
        # groupBy
        m = (m.unionAll(prop)
             .repartition(width, "n", "j")
             .groupBy("n", "j").agg(F.max("m").cast("bigint").alias("m"))
             .localCheckpoint(eager=True))
        # EAGERLY materialize this radius's 1-row rollup, then release
        # the PREVIOUS round's register table: the checkpointed tables
        # are nodes×64 DESERIALIZED rows each and accumulating them
        # across rounds (and bench repeats) OOM'd the shared heap at
        # sf1.  The rollup must be checkpointed first — it reads the
        # registers, and an unpersisted localCheckpoint is
        # unrecoverable (truncated lineage)
        r = roll(m, t).localCheckpoint(eager=True)
        if prev is not None:
            prev.unpersist()
        prev = m
        out = r if out is None else out.unionAll(r)
    ed.unpersist()
    prev.unpersist()
    return out


graph_hyperball_reach.__doc__ = graph_hyperball_reach.__doc__.format(
    m=HLL_M, t=_T)
