"""Graph analytics: exact fixed-point PageRank and degree-ordered
triangle counting.

Complements the connected-components pass in ``operators/dedup.py``
with the other canonical iterative graph operator.  Each iteration is
one edge⋈rank join + one destination-keyed aggregation — the
Pregel-style message-passing shape, expressed as DataFrames so
Catalyst/AQE handle partitioning; rank state is node-sized and
re-materialized per iteration (``localCheckpoint``), never
edge-sized.

Exactness: ranks live in integer microunits; per-edge contributions
use ROUNDED INTEGER DIVISION (half away from zero, the same helper
contract as the k-means centroid update) and the damping factor is a
percentage applied in integer arithmetic — no floats anywhere, so a
fixed iteration count macro-unrolls into a DuckDB CTE chain that
reproduces every rank bit-for-bit.

Semantics notes (documented variants of the textbook algorithm):
- teleport mass is (100-damping)% of the INITIAL per-node mass —
  ranks are scaled by N (init = 1.0 per node), avoiding an N-division;
- dangling nodes leak their mass (no redistribution term); build the
  edge set symmetric (as the co-purchase query does) if the graph has
  sinks and leakage is unwanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

INIT_MICRO = 1_000_000

# rounded integer division on non-negative longs: q = a div b, +1 when
# the remainder is at least half of b (half away from zero)
_RDIV = "((({a}) div ({b})) + (CASE WHEN 2 * (({a}) % ({b})) >= ({b}) THEN 1 ELSE 0 END))"


def pagerank_fixed_point(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 4,
    damping_pct: int = 85,
) -> DataFrame:
    """``nodes``: (nt string, id long).  ``edges``: (src_t, src,
    dst_t, dst) — directed; emit both directions for an undirected
    graph.  Returns (nt, id, rank_micro) after ``n_iter`` exact
    iterations."""
    deg = edges.groupBy("src_t", "src").agg(
        F.count(F.lit(1)).alias("deg"))
    # cache the degree-annotated edge list: the loop reuses it every
    # iteration, and without this the edge-building lineage (often a
    # join+distinct over fact tables) re-executes n_iter times —
    # measured 23.6 s → ~8 s at sf1 for the co-purchase query
    e = edges.join(deg, ["src_t", "src"]).persist()
    e.count()  # materialize before the loop

    base = (INIT_MICRO * (100 - damping_pct)) // 100
    r = nodes.select(
        "nt", "id", F.lit(INIT_MICRO).cast("long").alias("rank_micro"))

    contrib = F.expr(_RDIV.format(a="rank_micro", b="deg"))
    damped = F.expr(
        str(base) + " + "
        + _RDIV.format(a=f"{damping_pct} * inflow", b="100"))

    for _ in range(n_iter):
        flow = (
            e.join(
                r.select(F.col("nt").alias("src_t"),
                         F.col("id").alias("src"), "rank_micro"),
                ["src_t", "src"],
            )
            .select(F.col("dst_t").alias("nt"), F.col("dst").alias("id"),
                    contrib.alias("c"))
            .groupBy("nt", "id")
            .agg(F.sum("c").alias("inflow"))
        )
        r = (
            nodes.join(flow, ["nt", "id"], "left")
            .select(
                "nt", "id",
                F.coalesce(damped,
                           F.lit(base).cast("long")).alias("rank_micro"),
            )
            .localCheckpoint(eager=True)
        )
    # the final ranks are materialized (checkpoint above), so the
    # cached edges can be released immediately — repeated calls in a
    # long session must not accumulate cached edge lists
    e.unpersist()
    return r


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected node degrees for an (u, v) edge list with u < v —
    one definition shared by triangle orientation and the published
    degree histogram, so 'degree' can never silently mean two things.
    Returns (n, deg)."""
    return (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    )


def _with_degrees(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Annotate (u, v, ...) edges with both endpoint degrees du, dv."""
    return (
        edges.join(deg.withColumnRenamed("n", "u")
                   .withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v")
              .withColumnRenamed("deg", "dv"), "v")
    )


def _triangles(edges: DataFrame):
    """The degree-ordered wedge plan shared by :func:`per_node_triangles`
    and :func:`edge_jaccard`.  Returns (edges, deg, oriented, tri):
    the materialized edge list and degree table, the PERSISTED
    oriented edge list (the caller unpersists it once its own answer
    is materialized) and the (src, a, b) triangles, each listed once.

    The edge list and the node-sized degree table are materialized
    here (the _copurchase_edges convention: lazy producers; consumers
    that cannot prune materialize themselves) — edges feeds the degree
    build AND the orientation join, deg joins twice, and with a lazy
    producer the co-purchase self-join re-ran per branch (measured
    7.8 -> 4.3 s at sf0.01 on edge_jaccard)."""
    edges = edges.localCheckpoint(eager=True)
    deg = degrees(edges).localCheckpoint(eager=True)
    e = _with_degrees(edges, deg)
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    # the oriented edge list feeds THREE plan branches (both wedge
    # sides + the closing-edge probe); without a persist the whole
    # edge-building lineage (fact-table self-join + distinct + two
    # degree joins) executes three times — measured 16.3 -> ~7 s at
    # sf0.1 on the co-purchase graph.  Partitioned on src BEFORE the
    # persist: both wedge sides then join cache-co-partitioned with no
    # further exchange, and the cached blocks stay shuffle-partition
    # sized instead of scan-partition sized (large cached partitions
    # were the humongous-allocation pressure at sf10).
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    ).repartition(F.col("src")).persist()
    o1 = oriented.select("src", F.col("dst").alias("a"),
                         F.col("ddeg").alias("da"))
    o2 = oriented.select("src", F.col("dst").alias("b"),
                         F.col("ddeg").alias("db"))
    # wedges (src→a, src→b) with a before b in (deg, id) order — the
    # closing edge, if present, is oriented a→b by construction
    wedges = o1.join(o2, "src").filter(
        (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    )
    closing = oriented.select(F.col("src").alias("a"),
                              F.col("dst").alias("b"))
    tri = wedges.join(closing, ["a", "b"]).select("src", "a", "b")
    return edges, deg, oriented, tri


def per_node_triangles(edges: DataFrame) -> DataFrame:
    """Full per-node triangle participation counts (node_id,
    n_triangles) — node-sized, eagerly materialized; only nodes in at
    least one triangle appear.

    ``edges``: (u long, v long) with u < v, deduplicated — one row per
    undirected edge.

    Scale shape: the classic DEGREE-ORDERED orientation (node-iterator
    / compact-forward).  Each edge is oriented from its lower-(degree,
    id) endpoint to the higher one, so every out-neighborhood is
    bounded by O(sqrt(|E|)) on any graph (arboricity bound) — the
    wedge join Σ outdeg² stays near-linear in |E| instead of blowing
    up on hub nodes, which is what makes triangle counting feasible on
    a power-law 100 TB graph.  Three equi-joins, no cartesian; the
    count is orientation-invariant, so the id-ordered SQL twin matches
    exactly.  Reference has no graph surface (SURVEY.md §2.6).
    The wedge plan is :func:`_triangles`."""
    _, _, oriented, tri = _triangles(edges)
    nodes = (
        tri.select(F.col("src").alias("n"))
        .unionByName(tri.select(F.col("a").alias("n")))
        .unionByName(tri.select(F.col("b").alias("n")))
    )
    result = (
        nodes.groupBy("n")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .select(F.col("n").cast("bigint").alias("node_id"),
                F.col("n_triangles").cast("bigint").alias("n_triangles"))
        # materialize the node-sized answer eagerly so the cached
        # oriented edge list can be released NOW instead of leaking
        # for the session lifetime across a multi-hundred-query run
        .localCheckpoint(eager=True)
    )
    oriented.unpersist()
    return result


def triangle_participation(edges: DataFrame, top: int = 20) -> DataFrame:
    """Top-``top`` nodes by triangle participation (ties broken on
    node id) — the reporting head over :func:`per_node_triangles`."""
    return (
        per_node_triangles(edges)
        .orderBy(F.desc("n_triangles"), F.asc("node_id"))
        .limit(top)
    )


def local_clustering(
    edges: DataFrame, min_deg: int = 5, top: int = 20
) -> DataFrame:
    """Local clustering coefficient per node —
    ``2 * triangles / (deg * (deg - 1))`` — for nodes with degree >=
    ``min_deg``, top-``top`` by coefficient (ties on node id).

    Composition of two node-sized tables: degrees and
    :func:`per_node_triangles` (whose wedge join is the only
    corpus-sized work, arboricity-bounded).  Nodes in no triangle get
    coefficient 0 via the left join; the coefficient is one exact
    integer ratio evaluated as a fixed IEEE division, identical to the
    SQL twin.  ``2 * tri`` is bounded by deg² per node, far from
    BIGINT limits at any real degree."""
    deg = degrees(edges)
    tri = per_node_triangles(edges)
    j = (
        deg.filter(F.col("deg") >= min_deg)
        .select(F.col("n").cast("bigint").alias("node_id"),
                F.col("deg").cast("bigint").alias("deg"))
        .join(tri, "node_id", "left")
        .select(
            "node_id", "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint").alias("n_triangles"),
        )
    )
    coef = ((F.lit(2) * F.col("n_triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"))
    return (
        j.select("node_id", "deg", "n_triangles",
                 coef.alias("clustering"))
        .orderBy(F.desc("clustering"), F.asc("node_id"))
        .limit(top)
    )


def bfs_hops(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS hop histogram: minimum hop distance from any
    seed, bounded at ``max_hops`` frontier expansions, reported as
    (hop, n_nodes) with unreached nodes at hop = -1.

    ``nodes``: (nt string, id long); ``edges``: (src_t, src, dst_t,
    dst) directed — emit both directions for an undirected graph;
    ``seeds``: (nt, id) subset of nodes.

    Scale shape: the label-propagation sibling of
    :func:`pagerank_fixed_point` — each round is one edge⋈dist join +
    one dest-keyed MIN aggregate, so per-round cost is O(|E| touched|);
    the dist state is node-sized and re-materialized per round
    (``localCheckpoint``) to keep lineage flat.  All-integer hops, so
    a fixed round count macro-unrolls into a DuckDB CTE chain that
    reproduces every distance exactly.  At 100 TB the edge list is the
    only corpus-sized operand and it is persisted once, reused every
    round."""
    e = edges.persist()
    e.count()  # materialize before the loop
    dist = seeds.select("nt", "id", F.lit(0).cast("int").alias("hop"))
    for _ in range(max_hops):
        reached = (
            e.join(
                dist.select(F.col("nt").alias("src_t"),
                            F.col("id").alias("src"), "hop"),
                ["src_t", "src"],
            )
            .select(F.col("dst_t").alias("nt"), F.col("dst").alias("id"),
                    (F.col("hop") + 1).alias("hop"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("nt", "id")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    labeled = nodes.join(dist, ["nt", "id"], "left").select(
        F.coalesce(F.col("hop"), F.lit(-1)).alias("hop"))
    return (
        labeled.groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("hop").cast("bigint").alias("hop"),
                F.col("n_nodes").cast("bigint").alias("n_nodes"))
        .orderBy("hop")
    )


def bfs_sql(seed_pred: str, max_hops: int = 3) -> str:
    """Unrolled DuckDB twin of :func:`bfs_hops` over the co-purchase
    graph (same node/edge CTEs as :func:`pagerank_sql`);
    ``seed_pred`` filters the customer side, e.g. ``c_custkey % 50 =
    0``."""
    parts = [
        """nodes AS MATERIALIZED (
  SELECT 'c' AS nt, c_custkey AS id FROM customer
  UNION ALL SELECT 's', s_suppkey FROM supplier
)""",
        """pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT 'c' AS src_t, c AS src, 's' AS dst_t, s AS dst FROM pairs
  UNION ALL SELECT 's', s, 'c', c FROM pairs
)""",
        f"""d0 AS MATERIALIZED (
  SELECT 'c' AS nt, c_custkey AS id, 0 AS hop
  FROM customer WHERE {seed_pred}
)""",
    ]
    for t in range(max_hops):
        parts.append(f"""d{t + 1} AS MATERIALIZED (
  SELECT nt, id, MIN(hop) AS hop FROM (
    SELECT nt, id, hop FROM d{t}
    UNION ALL
    SELECT e.dst_t, e.dst, d.hop + 1
    FROM edges e JOIN d{t} d ON d.nt = e.src_t AND d.id = e.src
  ) GROUP BY 1, 2
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT CAST(coalesce(d.hop, -1) AS BIGINT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM nodes n LEFT JOIN d{max_hops} d ON d.nt = n.nt AND d.id = n.id
GROUP BY 1 ORDER BY 1"""
    )


def pagerank_sql(n_iter: int = 4, damping_pct: int = 85) -> str:
    """Unrolled DuckDB twin over the co-purchase graph (customers ↔
    suppliers linked through order lineitems, both directions)."""
    base = (INIT_MICRO * (100 - damping_pct)) // 100
    rdiv = "(({a}) // ({b})) + (CASE WHEN 2 * (({a}) % ({b})) >= ({b}) THEN 1 ELSE 0 END)"
    parts = [
        """nodes AS MATERIALIZED (
  SELECT 'c' AS nt, c_custkey AS id FROM customer
  UNION ALL SELECT 's', s_suppkey FROM supplier
)""",
        """pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT 'c' AS src_t, c AS src, 's' AS dst_t, s AS dst FROM pairs
  UNION ALL SELECT 's', s, 'c', c FROM pairs
)""",
        """deg AS MATERIALIZED (
  SELECT src_t, src, CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1, 2
)""",
        f"""r0 AS MATERIALIZED (
  SELECT nt, id, CAST({INIT_MICRO} AS BIGINT) AS rank_micro FROM nodes
)""",
    ]
    for t in range(n_iter):
        c = rdiv.format(a="r.rank_micro", b="d.deg")
        parts.append(f"""flow{t} AS MATERIALIZED (
  SELECT e.dst_t AS nt, e.dst AS id, SUM({c}) AS inflow
  FROM edges e
  JOIN r{t} r ON r.nt = e.src_t AND r.id = e.src
  JOIN deg d ON d.src_t = e.src_t AND d.src = e.src
  GROUP BY 1, 2
)""")
        damped = rdiv.format(a=f"{damping_pct} * f.inflow", b="100")
        parts.append(f"""r{t + 1} AS MATERIALIZED (
  SELECT n.nt, n.id,
         CAST(coalesce({base} + ({damped}), {base}) AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN flow{t} f ON f.nt = n.nt AND f.id = n.id
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT nt, id, rank_micro FROM r{n_iter}"
    )


def kcore_profile(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling profile: iteratively drop nodes with
    degree < k (and their edges) for ``rounds`` rounds, reporting the
    surviving node/edge counts AFTER each round (round 0 = the input
    graph).  The peel cascade is the degeneracy read — how fast the
    graph's weakly-attached periphery collapses.

    ``edges``: (u, v) with u < v, deduplicated.  Fixed rounds (not
    run-to-fixpoint) so the unrolled SQL twin matches bit-for-bit
    whether or not the peel has converged.

    Scale shape: each round is one degree aggregate plus two
    key-joins against the (node-sized, shrinking) keep list — Pregel
    shape, like PageRank; the edge list is localCheckpoint'ed per
    round so the plan tree stays flat instead of 2^rounds deep.
    Reference has no graph surface (SURVEY.md §2.6)."""
    def stats_row(e: DataFrame, r: int) -> DataFrame:
        stacked = e.select(F.col("u").alias("n")).unionByName(
            e.select(F.col("v").alias("n")))
        return stacked.agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            F.countDistinct("n").cast("bigint").alias("n_nodes"),
        ).select(F.lit(r).cast("bigint").alias("round"),
                 "n_nodes", "n_edges")

    e = edges
    out = stats_row(e, 0)
    for r in range(1, rounds + 1):
        deg = degrees(e)
        keep = deg.filter(F.col("deg") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u")
            .join(keep.withColumnRenamed("n", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(stats_row(e, r))
    return out


def edge_jaccard(edges: DataFrame, top: int = 20) -> DataFrame:
    """Edge-local neighborhood Jaccard (link similarity): for every
    edge (u,v), the Jaccard of N(u)\\{v} and N(v)\\{u} — intersection
    = triangles through the edge, union = du+dv-2-cn.  The structural
    backbone score used for Jaccard graph sparsification and
    community seeding.

    Same degree-ordered wedge plan (:func:`_triangles`) as
    :func:`per_node_triangles` (the arboricity bound keeps the
    wedge join linear in |E| on power-law graphs); each closed wedge
    credits its THREE id-ordered edges, then one edge-keyed count and
    a degree join.  Top-``top`` edges by (jaccard, u, v); the score is
    a rounded integer division in micro-units — exact on both
    engines.  Reference has no graph surface (SURVEY.md §2.6).
    The final score join reuses the materialized edge list and degree
    table from the wedge plan."""
    edges, deg, oriented, tri = _triangles(edges)
    # explode each triangle into its three edges, normalized to the
    # input's u < v id order
    tri_edges = (
        tri.select(F.least("src", "a").alias("u"),
                   F.greatest("src", "a").alias("v"))
        .unionByName(tri.select(F.least("src", "b").alias("u"),
                                F.greatest("src", "b").alias("v")))
        .unionByName(tri.select(F.least("a", "b").alias("u"),
                                F.greatest("a", "b").alias("v")))
    )
    cn = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn"))
    scored = (
        _with_degrees(edges.join(cn, ["u", "v"], "left").na.fill({"cn": 0}),
                      deg)
        .withColumn("den", F.col("du") + F.col("dv") - 2 - F.col("cn"))
        .withColumn(
            "jaccard_micro",
            F.when(F.col("den") <= 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr(_RDIV.format(
                a="1000000 * cn", b="den")).cast("bigint")))
    )
    result = (
        scored.select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            "cn",
            F.col("du").cast("bigint").alias("du"),
            F.col("dv").cast("bigint").alias("dv"),
            "jaccard_micro")
        .orderBy(F.desc("jaccard_micro"), F.asc("u"), F.asc("v"))
        .limit(top)
        # eager top-k materialization so the cached oriented list is
        # released immediately (same pattern as per_node_triangles)
        .localCheckpoint(eager=True)
    )
    oriented.unpersist()
    return result


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient: Pearson correlation of the
    endpoint degrees over all DIRECTED edge ends (each undirected
    edge counted in both directions — the standard symmetric
    treatment).  Positive r = hubs attach to hubs; the single number
    that decides whether the wedge joins need hub mitigation.

    Integer-exact sufficient statistics (one aggregate over the
    degree-annotated edge list); r is then the CENTERED fixed IEEE
    tree ``(sxy - sx*sy/m) / (sqrt(sxx - sx²/m) * sqrt(syy -
    sy²/m))`` — the double divisions happen before any cross-product,
    so BIGINT headroom is governed by the raw sums alone (the
    textbook ``m*sxy`` form overflowed int64 on the sf1 co-purchase
    graph — measured, fixed; the raw sums stay under 2^63 to ~1e12
    edge-ends at degree ~1000).  Returns one row:
    (m, sxy, sx, sxx, sy, syy, assortativity).

    Edge list materialized at the boundary (three consumers: degree
    build + both union directions — the _copurchase_edges
    convention)."""
    edges = edges.localCheckpoint(eager=True)
    deg = degrees(edges)
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    agg = _with_degrees(both, deg).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sxy"),
        F.sum("du").cast("bigint").alias("sx"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sxx"),
        F.sum("dv").cast("bigint").alias("sy"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("syy"),
    )
    md = F.col("m").cast("double")
    num = (F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double") / md)
    d1 = (F.col("sxx").cast("double")
          - F.col("sx").cast("double") * F.col("sx").cast("double") / md)
    d2 = (F.col("syy").cast("double")
          - F.col("sy").cast("double") * F.col("sy").cast("double") / md)
    return agg.select(
        "m", "sxy", "sx", "sxx", "sy", "syy",
        F.when((d1 > 0) & (d2 > 0),
               num / (F.sqrt(d1) * F.sqrt(d2)))
        .alias("assortativity"),
    )


def rich_club(edges: DataFrame, pct: int = 90) -> DataFrame:
    """Rich-club coefficient: among nodes whose degree exceeds the
    ``pct``-th percentile degree, the fraction of possible edges that
    exist — the single number that says whether hubs form a clique
    (and therefore whether hub-mitigation strategies like salting are
    load-bearing for the join plans over this graph).

    The percentile threshold is the exact lower integer percentile
    from the degree CDF (smallest degree with ``100 * cum >= pct * n``
    — deterministic, identical in SQL).  The degree table is
    node-sized, its distinct-degree CDF domain-bounded; the rich set
    is then broadcast-joined against the edge list (one corpus-sized
    pass), and the coefficient is one fixed IEEE division.  Returns
    one row: (deg_threshold, n_rich, m_rich, phi).

    The edge list is materialized here: every branch (the degrees
    chain and the rich-edge count) needs the FULL list, and without
    the checkpoint each of the ~6 plan references re-derived it —
    the co-purchase query's final plan scanned lineitem 30 times
    (measured r12).  Shared edge HELPERS stay lazy (queries like
    two_hop push per-branch pruning into the derivation and regress
    1.5x if force-materialized); the boundary belongs to operators
    whose branches all need everything."""
    edges = edges.localCheckpoint(eager=True)
    deg = degrees(edges)
    per_d = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("deg").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = per_d.select(
        "deg", F.sum("c").over(w).cast("bigint").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"))
    thr = (cum.filter(100 * F.col("cum") >= pct * F.col("n"))
           .agg(F.min("deg").cast("bigint").alias("deg_threshold")))
    rich = (deg.crossJoin(F.broadcast(thr))  # 1-row threshold
            .filter(F.col("deg") > F.col("deg_threshold"))
            .select(F.col("n").alias("node")))
    m_rich = (
        edges.join(rich.withColumnRenamed("node", "u"), "u")
        .join(rich.withColumnRenamed("node", "v"), "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_rich"))
    )
    n_rich = rich.agg(F.count(F.lit(1)).cast("bigint").alias("n_rich"))
    out = (thr.crossJoin(F.broadcast(n_rich))
           .crossJoin(F.broadcast(m_rich)))
    return out.select(
        "deg_threshold", "n_rich", "m_rich",
        F.when(F.col("n_rich") >= 2,
               (F.lit(2) * F.col("m_rich")).cast("double")
               / (F.col("n_rich") * (F.col("n_rich") - 1)).cast("double"))
        .alias("phi"),
    )
