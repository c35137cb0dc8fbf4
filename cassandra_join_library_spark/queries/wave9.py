"""Round-8 wave: graph degeneracy + link similarity, exact relational
statistics (chi-square, autocorrelation, OLS, A/B z-test, Benford),
t-closeness, a 2-D Pareto skyline, functional-dependency audits,
growth accounting, and a dedup threshold-tuning sweep.

All extension surface (the reference has none of this — SURVEY.md
§2.6); exact-value DuckDB oracles under the repo parity conventions:
integer-first arithmetic, fixed IEEE expression trees over exact
integers for the float outputs (no transcendentals — sqrt/div only),
aliased columns, total orders under LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.graph import edge_jaccard, kcore_profile
from ..operators.profiling import (
    BENFORD_P, benford_audit, fd_audit, t_closeness,
)
from ..operators.stats import (
    autocorr_integer, contingency_chi_square, ols_per_group,
    pareto_frontier_2d, two_proportion_z,
)
from ..registry import register
from ..sources.catalog import load_events, load_table
from .dedup import _JACCARD_ORACLE
from .wave4 import _EDGE_CTE, _copurchase_edges


# DuckDB-side rounded non-negative integer division (same contract as
# operators/stats._RDIV, `//` instead of `div`).  The result is
# OUTER-PARENTHESIZED — without it, embedding the macro after a
# binary minus (e.g. ``abs(rdiv_a - rdiv_b)``) textually distributes
# the minus over only the division term and ADDS the rounding
# correction instead of subtracting it: the exact +2-ppm divergence
# the sf0.1 oracle sweep caught in profile_histogram_l1_drift.
def _rdiv_sql(a: str, b: str) -> str:
    return (f"((({a}) // ({b})) + "
            f"(CASE WHEN 2 * (({a}) % ({b})) >= ({b}) THEN 1 ELSE 0 END))")


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


@register("privacy_t_closeness", oracle="""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         o_orderstatus, o_orderpriority AS v
  FROM orders
), gv AS (
  SELECT yr, o_orderstatus, v, CAST(COUNT(*) AS BIGINT) AS c_gv
  FROM base GROUP BY 1, 2, 3
), gl AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c_v FROM base GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM base
), sizes AS (
  SELECT yr, o_orderstatus, CAST(SUM(c_gv) AS BIGINT) AS n_g
  FROM gv GROUP BY 1, 2
), sc AS (
  SELECT gv.yr, gv.o_orderstatus,
         MAX(sizes.n_g) AS n_g, MAX(tot.n_total) AS n_total,
         CAST(SUM(abs(gv.c_gv * tot.n_total - gl.c_v * sizes.n_g)
                  - gl.c_v * sizes.n_g) AS BIGINT) AS present_sum
  FROM gv
  JOIN gl USING (v)
  JOIN sizes USING (yr, o_orderstatus)
  CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT yr, o_orderstatus, n_g,
       present_sum + n_total * n_g AS numer,
       CAST(present_sum + n_total * n_g AS DOUBLE)
         / (2.0 * CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE)) AS tvd
FROM sc
""")
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit (operators/profiling.py t_closeness): per
    (order-year, status) quasi-identifier group, the total variation
    distance between the group's priority distribution and the global
    one — integer numerator via the multiply-through trick (absent
    values folded in algebraically, no group x domain cross join);
    the only float op is the final division.  Complements
    k-anonymity / l-diversity: those count, this compares
    distributions."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        "o_orderstatus", "o_orderpriority")
    return t_closeness(o, ["yr", "o_orderstatus"], "o_orderpriority")


@register("stats_chi_square_cells", oracle="""
WITH obs AS (
  SELECT o_orderstatus AS r, o_orderpriority AS c,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1, 2
), rows_ AS (
  SELECT o_orderstatus AS r, CAST(COUNT(*) AS BIGINT) AS n_row
  FROM orders GROUP BY 1
), cols_ AS (
  SELECT o_orderpriority AS c, CAST(COUNT(*) AS BIGINT) AS n_col
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM orders
)
SELECT r, c, n_obs, n_row, n_col, n_total,
       CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
         / CAST(n_total AS DOUBLE) AS expected,
       ((CAST(n_obs AS DOUBLE)
         - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
           / CAST(n_total AS DOUBLE))
        * (CAST(n_obs AS DOUBLE)
           - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
             / CAST(n_total AS DOUBLE)))
       / (CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
          / CAST(n_total AS DOUBLE)) AS contrib
FROM obs JOIN rows_ USING (r) JOIN cols_ USING (c) CROSS JOIN tot
""")
def stats_chi_square_cells(spark, sf_dir):
    """Per-cell chi-square decomposition of the order status x
    priority contingency table (operators/stats.py
    contingency_chi_square): observed vs expected counts and each
    cell's contribution — the drill-down a drift monitor reads.  One
    corpus-sized aggregate + broadcast marginal joins; expected /
    contrib are a fixed IEEE tree over exact integer counts."""
    return contingency_chi_square(
        load_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority")


@register("stats_autocorr_daily", oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
), dv AS (
  SELECT day, v - ({_rdiv_sql("st.s", "st.n")}) AS dev
  FROM daily CROSS JOIN st
), den AS (
  SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM dv
), pairs AS (
  {" UNION ALL ".join(
      f"SELECT {k} AS lag_k, dev, "
      f"lead(dev, {k}) OVER (ORDER BY day) AS dev_k FROM dv"
      for k in range(1, 8))}
), agg AS (
  SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(dev * dev_k) AS BIGINT) AS num
  FROM pairs WHERE dev_k IS NOT NULL GROUP BY 1
)
SELECT CAST(lag_k AS BIGINT) AS lag_k, n_pairs, num, den.den,
       CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE) AS autocorr
FROM agg CROSS JOIN den
""")
def stats_autocorr_daily(spark, sf_dir):
    """Autocorrelation of daily order revenue at lags 1..7
    (operators/stats.py autocorr_integer): whole-dollar daily sums,
    deviations against the rounded integer mean, BIGINT
    numerator/denominator — the one float op is the final division.
    The ordering window runs over the calendar-bounded daily rollup,
    never the fact table."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.floor("o_totalprice").cast("bigint"))
             .cast("bigint").alias("v"))
    )
    return autocorr_integer(daily, "day", "v", max_lag=7)


_QTY_CENTS = "CAST(CAST(round(l_quantity, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)"
_EPRICE_CENTS = ("CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) "
                 "* 100 AS BIGINT)")


@register("stats_ols_by_brand", oracle=f"""
WITH xy AS (
  SELECT p.p_brand AS grp,
         {_QTY_CENTS} AS x, {_EPRICE_CENTS} AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), g AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT grp, n, sx, sy, sxy, sxx,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)) <> 0
            THEN (CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) END AS slope,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)) <> 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                          / CAST(n AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept
FROM g
""")
def stats_ols_by_brand(spark, sf_dir):
    """Per-brand OLS of extended price on quantity
    (operators/stats.py ols_per_group): the five sufficient
    statistics are exact BIGINT sums over cent units (one map-side-
    combinable aggregate after a broadcastable part-dimension join);
    slope/intercept are a fixed two-division IEEE tree.  The
    screening regression a feature pipeline runs per segment in one
    pass."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    xy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("grp"),
                F.expr(_QTY_CENTS).alias("x"),
                F.expr(_EPRICE_CENTS).alias("y"))
    )
    return ols_per_group(xy, "grp", "x", "y")


_BENFORD_SQL_LIST = "[" + ", ".join(repr(p) for p in BENFORD_P) + "]"
_OMICRO = ("CAST(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)) "
           "* 1000000 AS BIGINT)")


@register("profile_benford_prices", oracle=f"""
WITH vals AS (
  SELECT {_OMICRO} AS v FROM orders
), digits AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM vals WHERE v > 0 GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM digits
)
SELECT digit, n_obs, n_total,
       CAST(n_total AS DOUBLE) * ({_BENFORD_SQL_LIST}[digit]) AS expected,
       CAST(n_obs AS DOUBLE)
         - CAST(n_total AS DOUBLE) * ({_BENFORD_SQL_LIST}[digit]) AS excess
FROM digits CROSS JOIN tot
""")
def profile_benford_prices(spark, sf_dir):
    """Benford first-digit audit of order totals
    (operators/profiling.py benford_audit): leading digit read off
    the micro-unit integer's decimal string (no log10 — identical
    formatting in both engines); expected counts from the shared
    literal probabilities.  The fabricated-data screen, one 9-group
    aggregate at any scale."""
    v = load_table(spark, sf_dir, "orders").select(F.expr(_OMICRO).alias("v"))
    return benford_audit(v, "v")


_PRICE_CENTS = ("CAST(CAST(round(p_retailprice, 2) AS DECIMAL(18,2)) "
                "* 100 AS BIGINT)")


@register("skyline_pareto_parts", oracle=f"""
WITH p AS (
  SELECT p_partkey, {_PRICE_CENTS} AS price_c,
         CAST(p_size AS BIGINT) AS psize
  FROM part
)
SELECT p_partkey, price_c, psize
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_c <= a.price_c AND b.psize >= a.psize
    AND (b.price_c < a.price_c OR b.psize > a.psize)
)
""")
def skyline_pareto_parts(spark, sf_dir):
    """2-D Pareto skyline of parts — cheapest price vs largest size
    (operators/stats.py pareto_frontier_2d).  The oracle states the
    O(n^2) NOT-EXISTS definition; the Spark plan is the scalable
    shape: a price-keyed aggregate collapses the corpus to its
    distinct-price table, one ordered window over THAT computes the
    running best size, and a broadcast semi-join brings back the
    frontier rows."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_PRICE_CENTS).alias("price_c"),
        F.col("p_size").cast("bigint").alias("psize"))
    return pareto_frontier_2d(p, "p_partkey", "price_c", "psize")


@register("events_user_lifecycle", oracle="""
WITH am AS (
  SELECT DISTINCT user_id,
         CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), mx AS (
  SELECT MAX(m) AS maxm FROM am
), cl AS (
  SELECT user_id, m,
         lag(m)  OVER (PARTITION BY user_id ORDER BY m) AS pm,
         lead(m) OVER (PARTITION BY user_id ORDER BY m) AS nm
  FROM am
), ev AS (
  SELECT m, CASE WHEN pm IS NULL THEN 'new'
                 WHEN pm = m - 1 THEN 'retained'
                 ELSE 'resurrected' END AS kind
  FROM cl
  UNION ALL
  SELECT m + 1, 'churned'
  FROM cl CROSS JOIN mx
  WHERE (nm IS NULL OR nm > m + 1) AND m + 1 <= mx.maxm
)
SELECT m AS month_num,
       CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected,
       CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churned
FROM ev GROUP BY 1
""")
def events_user_lifecycle(spark, sf_dir):
    """Monthly growth accounting (new / retained / resurrected /
    churned users) — the standard startup-metrics decomposition.
    One distinct user-month pass, then per-user lag/lead windows
    (user-partitioned, bounded by a user's active months) classify
    each activity; churn is emitted at month+1 capped at the global
    horizon.  All integer counts; one calendar-sized output."""
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    am = ev.select(
        "user_id",
        ((F.year("ts") - 1970) * 12 + F.month("ts") - 1)
        .cast("bigint").alias("m")).distinct()
    mx = am.agg(F.max("m").alias("maxm"))
    w = Window.partitionBy("user_id").orderBy("m")
    cl = am.select(
        "user_id", "m",
        F.lag("m").over(w).alias("pm"),
        F.lead("m").over(w).alias("nm"))
    active = cl.select(
        "m",
        F.when(F.col("pm").isNull(), "new")
        .when(F.col("pm") == F.col("m") - 1, "retained")
        .otherwise("resurrected").alias("kind"))
    churn = (
        cl.crossJoin(F.broadcast(mx))  # 1-row horizon
        .filter((F.col("nm").isNull() | (F.col("nm") > F.col("m") + 1))
                & (F.col("m") + 1 <= F.col("maxm")))
        .select((F.col("m") + 1).alias("m"), F.lit("churned").alias("kind"))
    )
    ev_rows = active.unionByName(churn)
    return ev_rows.groupBy(F.col("m").alias("month_num")).agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("bigint").alias("n_resurrected"),
        F.sum(F.when(F.col("kind") == "churned", 1).otherwise(0))
        .cast("bigint").alias("n_churned"),
    )


@register("events_ab_conversion_z", oracle="""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS succ
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), a AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN variant = 0 AND succ = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS x0,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN variant = 1 AND succ = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS x1
  FROM u
)
SELECT n0, x0, n1, x1,
       CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
       CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
       CASE WHEN sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) > 0
       THEN (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            / sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                   * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                   * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
       END AS z
FROM a
""")
def events_ab_conversion_z(spark, sf_dir):
    """Two-proportion z-test readout (operators/stats.py
    two_proportion_z): users split by id parity into variants,
    success = a heavy purchaser (>= 14 purchase events — near the
    corpus median, so the split is informative); one row with counts,
    rates, and the pooled z.  Counts are exact integers; z is a fixed
    IEEE tree (divisions + one correctly-rounded sqrt), NULL when the
    pooled rate is degenerate.  One pass at any scale."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)) >= 14, 1).otherwise(0)
        .alias("succ"))
    trials = u.select(
        (F.col("user_id") % 2).cast("bigint").alias("variant"), "succ")
    return two_proportion_z(trials, "variant", "succ")


@register("profile_fd_violations", oracle="""
SELECT 'documents.source->lang' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(MAX(n_dep) AS BIGINT) AS max_distinct,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS violation_rate
FROM (SELECT source, COUNT(DISTINCT lang) AS n_dep
      FROM documents GROUP BY 1)
UNION ALL
SELECT 'documents.lang->source',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(n_dep) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM (SELECT lang, COUNT(DISTINCT source) AS n_dep
      FROM documents GROUP BY 1)
UNION ALL
SELECT 'orders.custkey->priority',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(n_dep) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_dep
      FROM orders GROUP BY 1)
""")
def profile_fd_violations(spark, sf_dir):
    """Functional-dependency discovery audit (operators/profiling.py
    fd_audit, Metanome-style): does source determine lang (and the
    converse), does customer determine order priority — group counts,
    violating groups, worst distinct count, violation rate.  Three
    two-level aggregates unioned; each is one map-side-combinable
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    return (
        fd_audit(docs, "source", "lang", "documents.source->lang")
        .unionByName(fd_audit(docs, "lang", "source",
                              "documents.lang->source"))
        .unionByName(fd_audit(orders, "o_custkey", "o_orderpriority",
                              "orders.custkey->priority"))
    )


_SWEEP_T = [500000, 600000, 700000, 800000, 900000]
_JMICRO = "CAST(CAST(round(jaccard, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


@register("dedup_threshold_sweep", oracle=f"""
WITH j AS (
  SELECT doc_a, doc_b, {_JMICRO} AS jm
  FROM ({_JACCARD_ORACLE}) q
), t AS (
  SELECT unnest([{", ".join(str(t) for t in _SWEEP_T)}]) AS t_micro
)
SELECT CAST(t.t_micro AS BIGINT) AS t_micro,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT j.doc_b) AS BIGINT) AS n_docs_removed
FROM t JOIN j ON j.jm >= t.t_micro
GROUP BY 1
""")
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold tuning report: for each candidate Jaccard
    threshold, the surviving pair count and the upper bound on docs
    removed (distinct higher-id pair members) — the sweep a pipeline
    owner reads before committing a dedup pass.  ONE posting-list
    pair computation (operators/dedup.py jaccard_pairs_exact — never
    re-run per threshold), then a 5-row explode + aggregate over the
    pair set."""
    pairs = D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)
    swept = pairs.select(
        "doc_b", F.expr(_JMICRO).alias("jm"),
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_T])).alias("t_micro"))
    return (
        swept.filter(F.col("jm") >= F.col("t_micro"))
        .groupBy(F.col("t_micro").cast("bigint").alias("t_micro"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
             F.countDistinct("doc_b").cast("bigint")
             .alias("n_docs_removed"))
    )
