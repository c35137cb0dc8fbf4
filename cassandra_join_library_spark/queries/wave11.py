"""Round-8 third wave: market-basket association rules, sweep-line
interval coverage, largest-remainder quota apportionment, local
clustering coefficients, weighted medians, a correlation matrix,
event path trigrams, and multi-key entity-resolution blocking.

All extension surface (SURVEY.md §2.6 — the reference has no
analytics); exact-value DuckDB oracles under the repo parity
conventions (integer-first arithmetic, rounded integer division in
ppm, fixed IEEE trees over exact integers, aliased columns).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.basket import association_pairs
from ..operators.corpus import apportion_largest_remainder
from ..operators.dedup import duplicate_clusters
from ..operators.graph import local_clustering
from ..operators.stats import corr_pairs_integer, weighted_median_grouped
from ..operators.timeseries import interval_union_coverage
from ..registry import register
from ..sources.catalog import load_events, load_table
from .wave4 import _EDGE_CTE
from .wave4 import _copurchase_edges
from .wave9 import _rdiv_sql


@register("basket_association_pairs", oracle=f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), tot AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM baskets
), ic AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY 1
), freq AS MATERIALIZED (
  SELECT i, c FROM ic CROSS JOIN tot
  WHERE c >= greatest(3, n_baskets // 2000)
), fb AS (
  SELECT baskets.b, baskets.i, freq.c
  FROM baskets JOIN freq ON freq.i = baskets.i
), p AS (
  SELECT x.i AS u, y.i AS v, x.c AS c_u, y.c AS c_v,
         CAST(COUNT(*) AS BIGINT) AS c_uv
  FROM fb x JOIN fb y ON y.b = x.b AND y.i > x.i
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, c_u, c_v, c_uv,
       CAST({_rdiv_sql("1000000 * c_uv", "n_baskets")} AS BIGINT)
         AS supp_ppm,
       CAST({_rdiv_sql("1000000 * c_uv", "c_u")} AS BIGINT)
         AS conf_uv_ppm,
       CAST({_rdiv_sql("1000000 * c_uv", "c_v")} AS BIGINT)
         AS conf_vu_ppm,
       CAST(n_baskets * c_uv AS DOUBLE) / CAST(c_u * c_v AS DOUBLE)
         AS lift
FROM p CROSS JOIN tot
ORDER BY c_uv DESC, u, v
LIMIT 20
""")
def basket_association_pairs(spark, sf_dir):
    """A-priori frequent part pairs over order baskets
    (operators/basket.py association_pairs): relative min-support
    prune BEFORE pairing (downward closure — the bounded frequent-item
    table broadcasts), within-order pair counting, exact ppm
    support/confidence and one-division lift.  Top 20 by pair count."""
    li = load_table(spark, sf_dir, "lineitem")
    return association_pairs(
        li, "l_orderkey", "l_partkey",
        minsup_div=2000, minsup_floor=3, top=20)


@register("events_interval_coverage", oracle="""
WITH iv AS (
  SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) + 300 AS BIGINT) AS e
  FROM events
), flagged AS (
  SELECT k, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT k, s, e,
         SUM(new_island) OVER (PARTITION BY k ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), per_island AS (
  SELECT k, island, CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(MAX(e) - MIN(s) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
)
SELECT k AS user_id, CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(len) AS BIGINT) AS covered
FROM per_island GROUP BY 1
""")
def events_interval_coverage(spark, sf_dir):
    """Union-of-intervals activity coverage per user
    (operators/timeseries.py interval_union_coverage): each event
    opens a 5-minute presence interval; the sweep-line (running max of
    prior ends -> island flags -> prefix-sum island ids) collapses
    overlaps exactly with two user-partitioned window passes — no
    self-joins, no loops.  All integer epoch seconds."""
    ev = load_events(spark, sf_dir)
    s = F.unix_timestamp("ts").cast("bigint")
    iv = ev.select(
        "user_id", s.alias("s"), (s + 300).alias("e"))
    out = interval_union_coverage(iv, "user_id", "s", "e")
    return out.select(
        F.col("key").alias("user_id"),
        "n_intervals", "n_islands", "covered")


@register("corpus_quota_apportion", oracle=f"""
WITH w AS (
  SELECT source AS key, CAST(SUM(n_chars) AS BIGINT) AS weight
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS big_w FROM w
), base AS (
  SELECT key, weight,
         CAST((1000000 * weight) // big_w AS BIGINT) AS base_quota,
         CAST((1000000 * weight) % big_w AS BIGINT) AS rem
  FROM w CROSS JOIN tot
), ranked AS (
  SELECT key, weight, base_quota,
         ROW_NUMBER() OVER (ORDER BY rem DESC, key) AS rk,
         CAST(1000000 - SUM(base_quota) OVER () AS BIGINT) AS leftover
  FROM base
)
SELECT key, weight, base_quota,
       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM ranked
""")
def corpus_quota_apportion(spark, sf_dir):
    """Hamilton largest-remainder apportionment of 1M sampling slots
    across document sources by character mass
    (operators/corpus.py apportion_largest_remainder): floor quotas
    plus one-each to the largest remainders, so the quotas sum to
    exactly 1,000,000 — the integer-exact property a mixture sampler
    needs.  All windows run over the #sources-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy(F.col("source").alias("src")).agg(
        F.sum("n_chars").cast("bigint").alias("wt"))
    out = apportion_largest_remainder(w, "src", "wt", 1_000_000)
    return out.select(
        F.col("key"), "weight", "base_quota", "extra", "quota")


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


_QTY_CENTS = "CAST(CAST(round(l_quantity, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)"
_EPRICE_CENTS = ("CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) "
                 "* 100 AS BIGINT)")
_EPRICE_DOLLARS = "CAST(floor(l_extendedprice) AS BIGINT)"
_DISC_BP = ("CAST(CAST(round(l_discount, 4) AS DECIMAL(8,4)) "
            "* 10000 AS BIGINT)")


@register("stats_weighted_median_brand", oracle=f"""
WITH xw AS (
  SELECT p.p_brand AS grp, {_EPRICE_CENTS} AS v, {_QTY_CENTS} AS w
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), per_v AS (
  SELECT grp, v, CAST(SUM(w) AS BIGINT) AS w
  FROM xw GROUP BY 1, 2
), cum AS (
  SELECT grp, v, w,
         CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumw,
         CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS totw,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_values
  FROM per_v
)
SELECT grp, totw, n_values, CAST(MIN(v) AS BIGINT) AS median
FROM cum WHERE 2 * cumw >= totw
GROUP BY 1, 2, 3
""")
def stats_weighted_median_brand(spark, sf_dir):
    """Quantity-weighted median line price per part brand
    (operators/stats.py weighted_median_grouped): the corpus collapses
    to a (brand, price)-keyed weight table first; the cumulative
    window runs per brand over that collapsed, domain-bounded table.
    Lower-median integer rule — always an observed cent value,
    identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    xw = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("grp"),
        F.expr(_QTY_CENTS).alias("w"),
        F.expr(_EPRICE_CENTS).alias("v"),
    )
    return weighted_median_grouped(xw, "grp", "v", "w")


@register("stats_corr_lineitem", oracle=f"""
WITH m AS (
  SELECT {_QTY_CENTS} AS qty, {_EPRICE_DOLLARS} AS price,
         {_DISC_BP} AS disc
  FROM lineitem
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qty) AS BIGINT) AS s_qty,
         CAST(SUM(qty * qty) AS BIGINT) AS ss_qty,
         CAST(SUM(price) AS BIGINT) AS s_price,
         CAST(SUM(price * price) AS BIGINT) AS ss_price,
         CAST(SUM(disc) AS BIGINT) AS s_disc,
         CAST(SUM(disc * disc) AS BIGINT) AS ss_disc,
         CAST(SUM(qty * price) AS BIGINT) AS sx_qty_price,
         CAST(SUM(qty * disc) AS BIGINT) AS sx_qty_disc,
         CAST(SUM(price * disc) AS BIGINT) AS sx_price_disc
  FROM m
), pairs AS (
  SELECT 'qty~price' AS pair, n, s_qty AS sa, s_price AS sb,
         ss_qty AS saa, ss_price AS sbb, sx_qty_price AS sab FROM g
  UNION ALL
  SELECT 'qty~disc', n, s_qty, s_disc, ss_qty, ss_disc, sx_qty_disc
  FROM g
  UNION ALL
  SELECT 'price~disc', n, s_price, s_disc, ss_price, ss_disc,
         sx_price_disc FROM g
)
SELECT pair, n, sa, sb, saa, sbb, sab,
       CASE WHEN (CAST(saa AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                    / CAST(n AS DOUBLE)) > 0
             AND (CAST(sbb AS DOUBLE)
                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                    / CAST(n AS DOUBLE)) > 0
            THEN (CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (sqrt(CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                           / CAST(n AS DOUBLE))
                    * sqrt(CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                             / CAST(n AS DOUBLE)))
       END AS corr
FROM pairs
""")
def stats_corr_lineitem(spark, sf_dir):
    """Pairwise Pearson correlations over (quantity cents, price
    dollars, discount basis points) via ONE sufficient-statistics
    aggregate (operators/stats.py corr_pairs_integer), unpivoted to a
    pair per row.  Centered-form correlation keeps every integer
    inside BIGINT (no n*sum products); the divisions and sqrts are a
    fixed IEEE tree evaluated identically by DuckDB."""
    li = load_table(spark, sf_dir, "lineitem")
    return corr_pairs_integer(li, {
        "qty": F.expr(_QTY_CENTS),
        "price": F.expr(_EPRICE_DOLLARS),
        "disc": F.expr(_DISC_BP),
    })


@register("events_path_trigrams", oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ordered
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 20
""")
def events_path_trigrams(spark, sf_dir):
    """Top event-type trigram paths (3-step behavioral sequences):
    two LEADs over a user-partitioned window (no self-joins — the
    sequence expansion is window-local), then a map-side-combinable
    path count.  Deterministic ordering on (ts, event_id)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        ordered.filter(F.col("e2").isNotNull()
                       & F.col("e3").isNotNull())
        .groupBy(F.concat_ws(">", "event_type", "e2", "e3")
                 .alias("path"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@register("er_blocking_components", oracle="""
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), keyed AS (
  SELECT doc_id,
         array_to_string(w[1:8], ' ') AS k1,
         array_to_string(w[-8:], ' ') AS k2
  FROM words WHERE len(w) >= 16
), b1 AS (
  SELECT k1 AS k, doc_id FROM keyed
), b2 AS (
  SELECT k2 AS k, doc_id FROM keyed
), ok1 AS (
  SELECT k FROM b1 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 50
), ok2 AS (
  SELECT k FROM b2 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 50
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM b1 a JOIN b1 b ON b.k = a.k AND b.doc_id > a.doc_id
  JOIN ok1 ON ok1.k = a.k
  UNION
  SELECT DISTINCT a.doc_id, b.doc_id
  FROM b2 a JOIN b2 b ON b.k = a.k AND b.doc_id > a.doc_id
  JOIN ok2 ON ok2.k = a.k
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach AS (
  SELECT src AS a, src AS b FROM edges
  UNION
  SELECT r.a, e.dst AS b
  FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
""")
def er_blocking_components(spark, sf_dir):
    """Multi-key entity-resolution blocking: candidate pairs from TWO
    independent blocking keys (first-8-words and last-8-words of each
    document), each block capped at 50 members (the standard ER guard
    — an oversized block is a useless key, and the cap bounds
    within-block pair fanout at 100 TB), unioned and resolved into
    components with the pointer-jumping connected-components operator
    (operators/dedup.py duplicate_clusters).  cluster_id = min
    reachable doc id."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.split("text", " ").alias("w"))
    keyed = (
        words.filter(F.size("w") >= 16)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("w", 1, 8)).alias("k1"),
            F.concat_ws(" ", F.slice("w", -8, 8)).alias("k2"),
        )
    )

    def _block_pairs(col):
        b = keyed.select(F.col(col).alias("k"), "doc_id")
        ok = (b.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
              .filter((F.col("cnt") >= 2) & (F.col("cnt") <= 50))
              .select("k"))
        bb = b.join(ok, "k")
        return (
            bb.select("k", F.col("doc_id").alias("doc_a"))
            .join(bb.select("k", F.col("doc_id").alias("doc_b")), "k")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    pairs = _block_pairs("k1").unionByName(
        _block_pairs("k2")).distinct()
    out = duplicate_clusters(pairs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"))
