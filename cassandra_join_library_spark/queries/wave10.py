"""Round-8 second wave: CUSUM drift detection, degree assortativity,
feature phi-coefficients, SCD2 point-in-time joins, two-sample KS,
grouped Gini, inter-arrival histograms, and dedup cluster-size
reporting.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles,
repo parity conventions (integer-first, fixed IEEE trees over exact
integers, aliased columns)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.asof import asof_join
from ..operators.graph import degree_assortativity
from ..operators.stats import (
    gini_grouped, ks_two_sample_integer, phi_binary,
)
from ..operators.timeseries import cusum_integer
from ..registry import register
from ..sources.catalog import load_events, load_table
from .dedup import _CLUSTERS_ORACLE
from .wave4 import _EDGE_CTE, _copurchase_edges
from .wave9 import _rdiv_sql


@register("events_cusum_drift", oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
), base AS (
  SELECT day, v, m,
         v - m - (m // 20) AS d_up,
         m - v - (m // 20) AS d_down
  FROM (SELECT day, v, ({_rdiv_sql("st.s", "st.n")}) AS m
        FROM daily CROSS JOIN st)
), p AS (
  SELECT day, v, m,
         CAST(SUM(d_up) OVER w AS BIGINT) AS p_up,
         CAST(SUM(d_down) OVER w AS BIGINT) AS p_down
  FROM base
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), s AS (
  SELECT day, v, m,
         CAST(p_up - least(0, MIN(p_up) OVER w) AS BIGINT) AS s_up,
         CAST(p_down - least(0, MIN(p_down) OVER w) AS BIGINT) AS s_down
  FROM p
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num, v,
       s_up, s_down, (s_up > m OR s_down > m) AS alarm
FROM s
""")
def events_cusum_drift(spark, sf_dir):
    """Two-sided CUSUM drift detection over daily order revenue
    (operators/timeseries.py cusum_integer): the recursion
    ``S_t = max(0, S_(t-1) + d_t)`` computed exactly via its closed
    form — prefix sum minus running minimum — which IS window-
    expressible; slack = 5% of the rounded mean, alarm at h = mean.
    All BIGINT; the ordering windows run over the calendar-bounded
    daily rollup, never the fact table."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.floor("o_totalprice").cast("bigint"))
             .cast("bigint").alias("v"))
    )
    out = cusum_integer(daily, "day", "v", slack_div=20)
    return out.select(
        F.datediff("ord", F.lit("1970-01-01")).cast("bigint")
        .alias("day_num"),
        "v", "s_up", "s_down", "alarm")


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


_PHI_CASE = """CASE WHEN (n11 + n10) * (n01 + n00) > 0
                AND (n11 + n01) * (n10 + n00) > 0
     THEN CAST(n11 * n00 - n10 * n01 AS DOUBLE)
          / (sqrt(CAST((n11 + n10) * (n01 + n00) AS DOUBLE))
             * sqrt(CAST((n11 + n01) * (n10 + n00) AS DOUBLE)))
     END AS phi"""


def _phi_agg_sql(a: str, b: str, name: str) -> str:
    return f"""SELECT '{name}' AS pair,
       CAST(SUM(CASE WHEN {a} = 1 AND {b} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n11,
       CAST(SUM(CASE WHEN {a} = 1 AND {b} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
       CAST(SUM(CASE WHEN {a} = 0 AND {b} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
       CAST(SUM(CASE WHEN {a} = 0 AND {b} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n00
FROM u"""


@register("stats_phi_features", oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   >= 1 THEN 1 ELSE 0 END AS has_error,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) >= 14 THEN 1 ELSE 0 END AS heavy_buyer,
         CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS heavy_viewer
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), cells AS (
  {_phi_agg_sql("has_error", "heavy_buyer", "error~buyer")}
  UNION ALL
  {_phi_agg_sql("has_error", "heavy_viewer", "error~viewer")}
  UNION ALL
  {_phi_agg_sql("heavy_buyer", "heavy_viewer", "buyer~viewer")}
)
SELECT pair, n11, n10, n01, n00, {_PHI_CASE}
FROM cells
""")
def stats_phi_features(spark, sf_dir):
    """Phi coefficients between binary user features (operators/
    stats.py phi_binary): error-prone x heavy-buyer x heavy-viewer —
    the co-occurrence screen a feature pipeline runs before treating
    signals as independent.  One user-keyed aggregate builds the
    flags; each pair is then a single map-side-combinable 2x2 count
    with a fixed sqrt tree."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cnt = lambda t: F.sum(  # noqa: E731 - tiny local helper
        F.when(F.col("event_type") == t, 1).otherwise(0))
    u = ev.groupBy("user_id").agg(
        F.when(cnt("error") >= 1, 1).otherwise(0).alias("has_error"),
        F.when(cnt("purchase") >= 14, 1).otherwise(0).alias("heavy_buyer"),
        F.when(cnt("view") >= 14, 1).otherwise(0).alias("heavy_viewer"),
    )
    return (
        phi_binary(u, "has_error", "heavy_buyer", "error~buyer")
        .unionByName(phi_binary(u, "has_error", "heavy_viewer",
                                "error~viewer"))
        .unionByName(phi_binary(u, "heavy_buyer", "heavy_viewer",
                                "buyer~viewer"))
    )


@register("events_scd2_pit_join", oracle="""
WITH np AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS pt
  FROM events WHERE event_type <> 'purchase'
), v0 AS (
  SELECT user_id, ts, event_id, event_type FROM np
  WHERE pt IS NULL OR pt <> event_type
), v AS (
  SELECT user_id, ts, MAX(event_id) AS event_id,
         arg_max(event_type, event_id) AS event_type
  FROM v0 GROUP BY 1, 2
), l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, v.event_id AS rid,
           v.event_type AS status,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY v.ts DESC, v.event_id DESC) AS rn
    FROM l JOIN v ON v.user_id = l.user_id AND v.ts <= l.ts
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       m.rid AS matched_event_id, m.status
FROM l LEFT JOIN m ON m.lid = l.event_id
""")
def events_scd2_pit_join(spark, sf_dir):
    """Point-in-time (PIT) join — the feature-store staple: each
    purchase is joined to the SCD2 status version (run-starts of the
    user's NON-purchase event stream) valid AT its timestamp, with
    zero leakage from the future.  Runs as the union-sort as-of
    backward pass (operators/asof.py asof_join): one user-partitioned
    window, no per-fact range join.  The oracle states the
    row_number-over-candidates definition."""
    ev = load_events(spark, sf_dir)
    np_ = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        np_.select("user_id", "ts", "event_id", "event_type",
                   F.lag("event_type").over(w).alias("pt"))
        .filter(F.col("pt").isNull()
                | (F.col("pt") != F.col("event_type")))
        .drop("pt")
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    out = asof_join(left, runs, "user_id",
                    right_payload=["event_type"], direction="backward")
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        "matched_event_id",
        F.col("matched_event_type").alias("status"))


_TP_CENTS = ("CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) "
             "* 100 AS BIGINT)")


@register("stats_ks_priority_price", oracle=f"""
WITH pts AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS g,
         {_TP_CENTS} AS v
  FROM orders
), per_v AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM pts GROUP BY 1
), cums AS (
  SELECT v,
         CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER w AS BIGINT) AS cum2
  FROM per_v
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM per_v
), gaps AS (
  SELECT v, n1, n2, abs(cum1 * n2 - cum2 * n1) AS gap
  FROM cums CROSS JOIN tot
), best AS (
  SELECT n1, n2, CAST(MAX(gap) AS BIGINT) AS d_num FROM gaps
  GROUP BY 1, 2
)
SELECT g.n1, g.n2, b.d_num,
       CAST(MIN(g.v) AS BIGINT) AS at_value,
       CASE WHEN g.n1 > 0 AND g.n2 > 0
            THEN CAST(b.d_num AS DOUBLE)
                 / (CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)) END AS d
FROM gaps g JOIN best b ON b.n1 = g.n1 AND b.n2 = g.n2
             AND g.gap = b.d_num
GROUP BY g.n1, g.n2, b.d_num
""")
def stats_ks_priority_price(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between urgent and non-urgent
    order prices (operators/stats.py ks_two_sample_integer) —
    integer-exact: D's numerator is max |cum1*n2 - cum2*n1| over the
    distinct cent values (the only points where either CDF moves),
    one division at the end; argmax value reported with a min-value
    tiebreak.  The distribution-drift test a data pipeline runs
    between cohorts/snapshots.  The window runs over the
    distinct-value aggregate, never the fact table."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
        .alias("g"),
        F.expr(_TP_CENTS).alias("v"))
    return ks_two_sample_integer(o, "g", "v")


@register("corpus_gini_doclen", oracle="""
WITH per_b AS (
  SELECT n_chars // 16 AS b,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(n_chars) AS BIGINT) AS s
  FROM documents GROUP BY 1
), terms AS (
  SELECT b, c, s,
         c * (2 * CAST(SUM(s) OVER w AS BIGINT) - s) AS term
  FROM per_b
  WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), a AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(term) AS BIGINT) AS gini_num
  FROM terms
)
SELECT n, total, n_buckets, gini_num,
       1.0 - CAST(gini_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) AS gini
FROM a
""")
def corpus_gini_doclen(spark, sf_dir):
    """Grouped Gini coefficient of document lengths
    (operators/stats.py gini_grouped, 16-char buckets): the
    inequality read a corpus-mixture owner checks before length-
    balancing.  One bucket-keyed aggregate over the corpus, then the
    Lorenz trapezoid sum over the value-domain-bounded bucket table —
    all BIGINT, one final division."""
    return gini_grouped(load_table(spark, sf_dir, "documents"), "n_chars", 16)


@register("events_interarrival_hist", oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS gap_s
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT event_type,
       CAST(length(CAST(gap_s AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1, 2
""")
def events_interarrival_hist(spark, sf_dir):
    """Inter-arrival time histogram per event type: per-user
    consecutive gaps in epoch seconds, bucketed by decimal magnitude
    (digit count — integer-exact in both engines, the repo's standard
    alternative to log buckets; sub-10s gaps including zero share the
    1-digit bucket).  User-partitioned lag window + one bounded
    aggregate — the burstiness read that sizes session timeouts and
    watermark horizons."""
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id")
    es = F.unix_timestamp("ts").cast("bigint")
    g = ev.select(
        "event_type", (es - F.lag(es).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy(
        "event_type",
        F.length(F.col("gap_s").cast("string")).cast("bigint")
        .alias("magnitude"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap"),
        F.max("gap_s").cast("bigint").alias("max_gap"),
    )


@register("dedup_cluster_size_histogram", oracle=f"""
WITH sizes AS (
  SELECT cluster_id, COUNT(*) AS sz
  FROM ({_CLUSTERS_ORACLE}) c
  GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1
""")
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution — the dedup report a
    pipeline owner reads to decide between keep-one and keep-none
    policies: exact-Jaccard pairs -> connected components
    (operators/dedup.py duplicate_clusters, pointer-jumping) -> two
    bounded aggregates.  Singleton docs count as size-1 clusters."""
    pairs = D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(
        F.col("sz").cast("bigint").alias("cluster_size")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
