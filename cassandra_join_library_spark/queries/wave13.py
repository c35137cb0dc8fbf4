"""Round-8 fifth wave: delta-join view maintenance, exact
nearest-value top-k joins, balanced class downsampling, JSON props
analytics, an LSH recall audit against exact Jaccard, capped 2-hop
reach, and mode-per-group.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.ivm import join_view_delta
from ..operators.stats import _RDIV, nearest_value_topk
from ..registry import register
from ..sources.catalog import load_events, load_table
from .dedup import _JACCARD_ORACLE
from .wave4 import _EDGE_CTE
from .wave4 import _copurchase_edges
from .wave9 import _rdiv_sql


_TP_CENTS = ("CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) "
             "* 100 AS BIGINT)")


@register("ivm_join_refresh", oracle=f"""
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_TP_CENTS}) AS BIGINT) AS revenue_cents
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY 1, 2
""")
def ivm_join_refresh(spark, sf_dir):
    """Delta maintenance of a join view (operators/ivm.py
    join_view_delta): customer ⋈ orders split into a base snapshot
    plus late-arriving deltas on BOTH sides (1/97th of customers,
    orders from 1998-01-01 on); the three-term delta expansion
    ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — each term broadcast on its delta side,
    no fact⋈fact reshuffle — must reproduce the full join exactly,
    which the oracle checks through a nation/priority rollup."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"), "o_orderpriority",
        "o_orderdate", F.expr(_TP_CENTS).alias("cents"))
    da = c.filter(F.col("ck") % 97 == 0)
    a0 = c.filter(F.col("ck") % 97 != 0)
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    db = o.filter(F.col("o_orderdate") >= cut).drop("o_orderdate")
    b0 = o.filter(F.col("o_orderdate") < cut).drop("o_orderdate")
    view = a0.join(b0, ["ck"])
    refreshed = view.unionByName(
        join_view_delta(a0, da, b0, db, ["ck"]))
    return refreshed.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
          F.sum("cents").cast("bigint").alias("revenue_cents"))


@register("orders_nearest_price_topk", oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS grp, o_orderkey AS id,
         {_TP_CENTS} AS v
  FROM orders
), w AS (
  SELECT grp, id, v,
         LAG(v, 1)  OVER win AS lv1, LAG(id, 1)  OVER win AS li1,
         LAG(v, 2)  OVER win AS lv2, LAG(id, 2)  OVER win AS li2,
         LAG(v, 3)  OVER win AS lv3, LAG(id, 3)  OVER win AS li3,
         LEAD(v, 1) OVER win AS rv1, LEAD(id, 1) OVER win AS ri1,
         LEAD(v, 2) OVER win AS rv2, LEAD(id, 2) OVER win AS ri2,
         LEAD(v, 3) OVER win AS rv3, LEAD(id, 3) OVER win AS ri3
  FROM base
  WINDOW win AS (PARTITION BY grp ORDER BY v, id)
), nb AS (
  SELECT grp, id, v, lv1 AS nv, li1 AS nid FROM w
  UNION ALL SELECT grp, id, v, lv2, li2 FROM w
  UNION ALL SELECT grp, id, v, lv3, li3 FROM w
  UNION ALL SELECT grp, id, v, rv1, ri1 FROM w
  UNION ALL SELECT grp, id, v, rv2, ri2 FROM w
  UNION ALL SELECT grp, id, v, rv3, ri3 FROM w
), fl AS (
  SELECT grp, id, v, nid, nv, abs(v - nv) AS dist
  FROM nb WHERE nid IS NOT NULL
), rk AS (
  SELECT grp, id, v, nid, nv, dist,
         ROW_NUMBER() OVER (PARTITION BY grp, id
           ORDER BY dist, nv, nid) AS rk
  FROM fl
)
SELECT grp, CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS value,
       CAST(nid AS BIGINT) AS neighbor_id,
       CAST(nv AS BIGINT) AS neighbor_value,
       CAST(dist AS BIGINT) AS dist, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 3 AND id % 199 = 0
""")
def orders_nearest_price_topk(spark, sf_dir):
    """Exact k-nearest-by-value join (operators/stats.py
    nearest_value_topk): for each probe order, the 3 closest-priced
    orders in its priority class — via the sorted-neighborhood
    identity (the k nearest values sit among the 2k positional
    neighbors), so one partitioned window sort and 2k LAG/LEADs
    replace the quadratic theta self-join.  Probes are the 1/199
    orderkey residue class; neighbors still come from ALL orders."""
    o = load_table(spark, sf_dir, "orders")
    out = nearest_value_topk(
        o.select("o_orderpriority", "o_orderkey",
                 F.expr(_TP_CENTS).alias("cents")),
        "o_orderpriority", "o_orderkey", "cents", k=3)
    return out.filter(F.col("id") % 199 == 0)


@register("corpus_class_balance_downsample", oracle="""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
), m AS (
  SELECT CAST(MIN(c) AS BIGINT) AS m FROM counts
), ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked CROSS JOIN m
WHERE rk <= m
""")
def corpus_class_balance_downsample(spark, sf_dir):
    """Exact balanced downsampling: every language class reduced to
    the minority-class size by deterministic hash order (md5 of the
    doc id — reproducible across engines and runs, no RNG).  One
    class-partitioned ranking window + a 1-row broadcast minimum;
    the selection a multilingual trainer applies before mixing."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    m = counts.agg(F.min("c").alias("m"))
    ranked = docs.select(
        "lang", "doc_id",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        ).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))  # 1-row minority size
        .filter(F.col("rk") <= F.col("m"))
        .select("lang", F.col("doc_id").cast("bigint").alias("doc_id"))
    )


@register("events_props_json_extract", oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1
""")
def events_props_json_extract(spark, sf_dir):
    """Semi-structured analytics: the JSON ``props`` payload parsed
    engine-side (``get_json_object`` / ``json_extract_string`` — both
    JVM/C++-native, no Python) and aggregated per event type.  The
    path expression prunes to one key; parsing is map-only."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("k").cast("bigint").alias("sum_k"),
             F.min("k").cast("bigint").alias("min_k"),
             F.max("k").cast("bigint").alias("max_k"),
             F.countDistinct("k").cast("bigint").alias("n_distinct_k"))
    )


_LSH_AUDIT_ORACLE = (
    _JACCARD_ORACLE[:_JACCARD_ORACLE.index("SELECT doc_a,")]
    .rstrip()
    .rstrip(")")
    + f"""), sim AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
), mh AS (
  SELECT doc_id, t.i AS i,
         MIN(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || shingle),
              1, 15))::BIGINT) AS h
  FROM sh, range(0, 24) t(i)
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, i // 2 AS band,
         MIN(CASE WHEN i % 2 = 0 THEN h END) AS h0,
         MIN(CASE WHEN i % 2 = 1 THEN h END) AS h1
  FROM mh GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON b.band = a.band AND b.h0 = a.h0 AND b.h1 = a.h1
              AND b.doc_id > a.doc_id
), ne AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM sim
), nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand
), nv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified
  FROM cand JOIN sim ON sim.doc_a = cand.doc_a
                    AND sim.doc_b = cand.doc_b
)
SELECT n_exact, n_cand, n_verified,
       CAST(CASE WHEN n_exact > 0
            THEN {_rdiv_sql("1000000 * n_verified", "n_exact")}
            END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_cand > 0
            THEN {_rdiv_sql("1000000 * n_verified", "n_cand")}
            END AS BIGINT) AS cand_precision_ppm
FROM ne CROSS JOIN nc CROSS JOIN nv
"""
)


@register("dedup_lsh_recall_audit", oracle=_LSH_AUDIT_ORACLE)
def dedup_lsh_recall_audit(spark, sf_dir):
    """Measured LSH quality against ground truth: candidate pairs
    from the PORTABLE md5 MinHash with 2-row bands
    (operators/dedup.py minhash_lsh_pairs, portable=True — recall < 1 by
    design, unlike the r=1 production path) versus the exact Jaccard
    pair set; recall and candidate precision in rounded ppm.  The
    audit one runs before trusting an LSH configuration at 100 TB —
    both pair generators are posting-list/band joins, never n²."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.jaccard_pairs_exact(
        docs, "doc_id", "text", n=5, threshold=0.5
    ).select("doc_a", "doc_b")
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, num_hashes=24, rows_per_band=2,
        portable=True, verify=False)
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    nv = cand.join(exact, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_verified"))
    out = ne.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nv))
    return out.select(
        "n_exact", "n_cand", "n_verified",
        F.when(F.col("n_exact") > 0,
               F.expr(_RDIV.format(a="1000000 * n_verified",
                                   b="n_exact")))
        .cast("bigint").alias("recall_ppm"),
        F.when(F.col("n_cand") > 0,
               F.expr(_RDIV.format(a="1000000 * n_verified",
                                   b="n_cand")))
        .cast("bigint").alias("cand_precision_ppm"),
    )


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


@register("stats_mode_per_group", oracle="""
WITH counts AS (
  SELECT c_nationkey AS nation, c_mktsegment AS seg,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), ranked AS (
  SELECT nation, seg, n,
         ROW_NUMBER() OVER (PARTITION BY nation
           ORDER BY n DESC, seg) AS rk
  FROM counts
)
SELECT CAST(nation AS BIGINT) AS nation, seg AS mode_segment, n
FROM ranked WHERE rk = 1
""")
def stats_mode_per_group(spark, sf_dir):
    """Mode (most frequent categorical value) per group with a
    deterministic tie rule (count desc, then value): the holistic
    aggregate SQL lacks natively, as one grouped count + a
    group-partitioned rank over the domain-bounded count table."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = counts.select(
        "nation", "seg", "n",
        F.row_number().over(
            Window.partitionBy("nation").orderBy(F.desc("n"), "seg")
        ).alias("rk"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        F.col("nation").cast("bigint").alias("nation"),
        F.col("seg").alias("mode_segment"), "n")
