"""Advanced relational surface: semi/anti joins, full-SQL passthrough
(Catalyst is the engine's SQL front end), pivot, exact percentiles.

The SQL-passthrough queries register the catalog tables as temp views
and run ``spark.sql`` — showing a reference user can bring whole ANSI
queries, not just the fluent façade; the same text (modulo dialect)
runs on DuckDB as the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketch import (
    _HLL_NUM,
    hll_register_table,
    hll_registers,
    hll_registers_sql as _hll_sql,
    hll_rollup,
    logbin_quantiles_grouped,
    logbin_table,
)
from ..plans.executor import JoinExecutor
from ..plans.table_info import TableInfo
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs


def _view(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    df.createOrReplaceTempView(name)
    return df


@register("join_semi", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       c.c_acctbal AS customer_c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def join_semi(spark, sf_dir):
    """Left-semi join via the façade: customers that have orders."""
    return (
        JoinExecutor(spark, sf_dir)
        .semiJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .select("customer", {"c_custkey", "c_name", "c_acctbal"})
        .execute()
    )


@register("join_anti", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def join_anti(spark, sf_dir):
    """Left-anti join via the façade: customers with no orders."""
    return (
        JoinExecutor(spark, sf_dir)
        .antiJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .select("customer", {"c_custkey", "c_name"})
        .execute()
    )


_Q3ISH = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, year(o_orderdate), o_orderpriority
"""


@register("sql_q3_shipping_priority", oracle=_Q3ISH)
def sql_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped query through the full-SQL front end (spark.sql
    on registered views) — identical text runs on DuckDB."""
    for t in ("customer", "orders", "lineitem"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q3ISH)


_Q5ISH = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@register("sql_q5_local_volume", oracle=_Q5ISH)
def sql_q5_local_volume(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join pipeline through spark.sql."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q5ISH)


@register("pivot_status_by_year", oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS status_F,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS status_O,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS status_P
FROM orders
GROUP BY 1
""")
def pivot_status_by_year(spark, sf_dir):
    """Pivot (explicit value list for a deterministic schema — at scale
    never let pivot infer its columns with an extra pass)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"))
        .select(
            "order_year",
            F.col("F").alias("status_F"),
            F.col("O").alias("status_O"),
            F.col("P").alias("status_P"),
        )
    )


@register("percentiles_exact", oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
""")
def percentiles_exact(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both 1-based linear interpolation)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("p99"),
    )


@register("approx_distinct_parts", oracle=f"""
WITH hll AS ({_hll_sql("lineitem", "l_returnflag", "l_partkey")}),
exact AS (
  SELECT l_returnflag AS grp,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
  FROM lineitem GROUP BY 1
)
SELECT hll.grp AS l_returnflag, n_buckets_hit, s2,
       est_raw AS approx_parts, n_exact
FROM hll JOIN exact ON exact.grp = hll.grp
""")
def approx_distinct_parts(spark, sf_dir):
    """Approximate distinct parts per return flag via the PORTABLE
    HyperLogLog (operators/sketch.py hll_registers: md5-derived 60-bit
    hashes, 64 registers, exact-integer harmonic sum) — upgraded from
    the rows-only ``approx_count_distinct`` internals in round 13 so
    the ESTIMATE itself is value-graded; the exact distinct count
    rides along as the audit column.  Same scale story as the native
    HLL++: one (group, bucket) MAX aggregate, map-side combined,
    constant 64-register state per group."""
    l = load_table(spark, sf_dir, "lineitem")
    hll = hll_registers(l, "l_returnflag", "l_partkey")
    exact = l.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_exact"))
    return (hll.join(exact, "grp")
            .select(F.col("grp").alias("l_returnflag"), "n_buckets_hit",
                    "s2", F.col("est_raw").alias("approx_parts"),
                    "n_exact"))


@register("approx_distinct_mergeable", oracle=f"""
WITH hashed AS (
  SELECT l_returnflag AS flag, date_trunc('month', l_shipdate) AS month,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem
), ranked AS (
  SELECT flag, month, h % 64 AS j,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS r
  FROM hashed
), monthly_regs AS (
  SELECT flag, month, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2, 3
), merged AS (
  SELECT flag, j, MAX(m_j) AS m_j FROM monthly_regs GROUP BY 1, 2
), global_regs AS (
  SELECT flag, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2
), months AS (
  SELECT flag, CAST(COUNT(DISTINCT month) AS BIGINT) AS n_months
  FROM monthly_regs GROUP BY 1
), roll AS (
  SELECT m.flag,
         CAST(SUM(CAST(2 ** (55 - m.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_merged
  FROM merged m GROUP BY 1
), roll_g AS (
  SELECT g.flag,
         CAST(SUM(CAST(2 ** (55 - g.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_global
  FROM global_regs g GROUP BY 1
)
SELECT roll.flag AS l_returnflag, n_months, s2_merged,
       CAST({_HLL_NUM} / CAST(s2_merged AS DOUBLE) AS DOUBLE)
         AS approx_parts,
       s2_merged = s2_global AS merged_equal
FROM roll
JOIN roll_g ON roll_g.flag = roll.flag
JOIN months ON months.flag = roll.flag
""")
def approx_distinct_mergeable(spark, sf_dir):
    """Mergeable-sketch rollup, PORTABLE edition (round 13 — was
    Datasketches ``hll_sketch_agg``/``hll_union_agg``, rows-only):
    a 64-register portable-HLL table is built per (returnflag,
    ship-month) cell, the monthly register tables are merged per flag
    by per-bucket MAX, and the merged sketch is estimated — a
    distinct-count rollup WITHOUT rescanning raw data (the same
    partial-reaggregation contract as events_rollup_daily, for a
    non-additive measure).  ``merged_equal`` grades the merge algebra:
    the MAX-merged monthly sketches must equal the single global pass
    bit-for-bit, the property that makes the rollup valid at 100 TB
    where the monthly sketches are persisted and coarser rollups are
    register merges, not scans."""
    l = load_table(spark, sf_dir, "lineitem")
    src = l.select(
        F.struct(
            F.col("l_returnflag").alias("flag"),
            F.date_trunc("month", "l_shipdate").alias("month"),
        ).alias("gm"),
        "l_partkey",
    )
    # monthly register table is sketch-state-sized (flags x months x
    # <=64 rows) and feeds two consumers — materialize once
    monthly = hll_register_table(src, "gm", "l_partkey") \
        .localCheckpoint(eager=True)
    merged_regs = (monthly
                   .select(F.col("grp.flag").alias("grp"), "j", "m_j")
                   .groupBy("grp", "j")
                   .agg(F.max("m_j").cast("bigint").alias("m_j")))
    months = (monthly.select(F.col("grp.flag").alias("grp"),
                             F.col("grp.month").alias("month"))
              .distinct().groupBy("grp")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_months")))
    merged = hll_rollup(merged_regs).select(
        "grp", F.col("s2").alias("s2_merged"),
        F.col("est_raw").alias("approx_parts"))
    glob = hll_rollup(hll_register_table(l, "l_returnflag", "l_partkey")
                      ).select("grp", F.col("s2").alias("s2_global"))
    return (merged.join(glob, "grp").join(months, "grp")
            .select(F.col("grp").alias("l_returnflag"), "n_months",
                    "s2_merged", "approx_parts",
                    (F.col("s2_merged") == F.col("s2_global"))
                    .alias("merged_equal")))


@register("approx_percentiles", oracle="""
WITH cents AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS c
  FROM lineitem
), bins AS (
  SELECT l_returnflag, CAST(length(bin(c)) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM bins
), tot AS (
  SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
  FROM bins GROUP BY 1
), spec AS (
  SELECT l_returnflag, q_pct, n,
         CAST((q_pct * n + 99) // 100 AS BIGINT) AS target_rank
  FROM tot, (SELECT unnest([25, 50, 75, 95]::BIGINT[]) AS q_pct)
), hit AS (
  SELECT s.l_returnflag, s.q_pct, s.n, s.target_rank,
         CAST(MIN(c.bin) AS BIGINT) AS bin
  FROM spec s JOIN cum c ON c.l_returnflag = s.l_returnflag
                        AND c.cum >= s.target_rank
  GROUP BY 1, 2, 3, 4
)
SELECT l_returnflag, q_pct, n, target_rank, bin,
       CAST(1::BIGINT << CAST(bin - 1 AS INT) AS BIGINT) AS bin_lo,
       CAST(CASE WHEN bin >= 63 THEN 9223372036854775807
                 ELSE (1::BIGINT << CAST(bin AS INT)) - 1 END
         AS BIGINT) AS bin_hi
FROM hit
""")
def approx_percentiles(spark, sf_dir):
    """Approximate P25/P50/P75/P95 of extended price per return flag
    from the mergeable log-bin sketch (round 13 — was
    ``percentile_approx``, whose GK internals are engine-specific and
    rows-only): <= 64 rows of SUM-mergeable state per flag, each
    quantile bracketed within one power of two.  The 100 TB quantile
    path: one partial-agg shuffle with constant-size state where
    exact percentiles (percentiles_exact, the exact twin) need a full
    value-domain sort.  Prices are binned in exact DECIMAL-derived
    integer cents so both engines bin identically."""
    l = load_table(spark, sf_dir, "lineitem")
    cents = l.select(
        F.col("l_returnflag"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("c"),
    )
    bins = logbin_table(cents, "c", shard=F.col("l_returnflag"))
    q = logbin_quantiles_grouped(bins, [25, 50, 75, 95])
    return q.withColumnRenamed("shard_id", "l_returnflag")


_Q6ISH = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


@register("sql_q6_forecast_revenue", oracle=_Q6ISH)
def sql_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped scan-heavy filter+aggregate (no joins): the
    pushdown showcase — every predicate reaches the parquet scan."""
    _view(spark, sf_dir, "lineitem")
    return spark.sql(_Q6ISH)


_Q10ISH = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
"""


@register("sql_q10_returned_items", oracle=_Q10ISH)
def sql_q10_returned_items(spark, sf_dir):
    """TPC-H Q10-shaped returned-item revenue (4-table join + agg)."""
    for t in ("customer", "orders", "lineitem", "nation"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q10ISH)


_Q18ISH = """
SELECT c_custkey, o_orderkey, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
)
GROUP BY c_custkey, o_orderkey, o_totalprice
"""


@register("sql_q18_large_orders", oracle=_Q18ISH)
def sql_q18_large_orders(spark, sf_dir):
    """TPC-H Q18-shaped large-volume orders: IN-subquery (planned as a
    semi join) + HAVING over a grouped aggregate."""
    for t in ("customer", "orders", "lineitem"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q18ISH)


_Q4ISH = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("sql_q4_order_priority", oracle=_Q4ISH)
def sql_q4_order_priority(spark, sf_dir):
    """TPC-H Q4-shaped: CORRELATED EXISTS subquery — Catalyst
    decorrelates it into a left-semi join."""
    for t in ("orders", "lineitem"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q4ISH)


_Q16ISH = """
SELECT p_brand, p_type,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand != 'Brand#1'
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0
  )
GROUP BY p_brand, p_type
"""


@register("sql_q16_supplier_variety", oracle=_Q16ISH)
def sql_q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16-shaped: NOT IN subquery (null-aware anti join) +
    distinct aggregation."""
    for t in ("lineitem", "part", "supplier"):
        _view(spark, sf_dir, t)
    return spark.sql(_Q16ISH)


_Q2ISH = """
SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
FROM part p
WHERE p.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
)
"""


@register("sql_q2_min_cost", oracle=_Q2ISH)
def sql_q2_min_cost(spark, sf_dir):
    """TPC-H Q2-shaped: CORRELATED SCALAR subquery (cheapest part per
    type) — Catalyst decorrelates into an aggregate + join."""
    _view(spark, sf_dir, "part")
    return spark.sql(_Q2ISH)
