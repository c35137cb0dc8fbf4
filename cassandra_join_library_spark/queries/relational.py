"""Phase-2 relational surface: aggregations, sorts/top-k, windows, set
ops, scalar functions (SURVEY.md §2.6 — the reference implements none
of these; they are part of this engine's extended, 100 TB-oriented
surface and compile to pure Spark built-ins).

Scale notes: every aggregation here is a partial-aggregate (map-side
combine) shape; top-k uses ``orderBy().limit()`` which Spark executes
as per-partition TakeOrdered + driver merge of k rows, not a global
sort; windows partition by bounded keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.scalars import davg, dsum
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs
from ..sources.catalog import load_events


@register("agg_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: grouped sums/averages with the
    decimal-exact parity convention; pure map-side-combinable agg."""
    l = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("agg_orders_by_month", oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2, 3
""")
def agg_orders_by_month(spark, sf_dir):
    """Multi-key grouped aggregation over a date dimension."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_month"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
    )


@register("agg_count_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
""")
def agg_count_distinct(spark, sf_dir):
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
    )


@register("agg_rollup", oracle="""
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "total_acctbal"),
    )


@register("topk_customers", oracle="""
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spent,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey ASC
LIMIT 10
""")
def topk_customers(spark, sf_dir):
    """Top-k with a total order (tiebreak on key) — Spark executes
    orderBy+limit as TakeOrderedAndProject: k rows per partition then a
    driver merge, no global sort; the scalable top-k shape."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice", "total_spent"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


@register("sort_global", oracle="""
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
ORDER BY s_acctbal DESC, s_suppkey ASC
""")
def sort_global(spark, sf_dir):
    """Global sort (range-partitioned exchange in Spark)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select("s_suppkey", "s_name", "s_acctbal").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )


@register("window_rank", oracle="""
SELECT * FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         CAST(rank() OVER (PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS bal_rank
  FROM customer
) WHERE bal_rank <= 3
""")
def window_rank(spark, sf_dir):
    """Ranking window: top-3 customers by balance per nation."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_nationkey", "c_custkey", "c_name", "c_acctbal",
            F.rank().over(w).cast("bigint").alias("bal_rank"),
        )
        .filter(F.col("bal_rank") <= 3)
    )


@register("window_running_sum", oracle="""
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_spend
FROM orders
""")
def window_running_sum(spark, sf_dir):
    """Cumulative window aggregate per customer over order time."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("bigint").alias("order_epoch"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w)
        .cast("double").alias("running_spend"),
    )


@register("window_range_30d", oracle="""
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey
                  ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS spend_30d
FROM orders
""")
def window_range_30d(spark, sf_dir):
    """RANGE-frame window: per customer, total spend over the trailing
    30 days (value-based frame — includes all peers, so the decimal
    sum is order-independent and engine-portable)."""
    o = load_table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp("o_orderdate").cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        epoch.alias("order_epoch"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w)
        .cast("double").alias("spend_30d"),
    )


@register("window_lag_lead", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""")
def window_lag_lead(spark, sf_dir):
    """lag/lead navigation within per-customer order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@register("setop_union", oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""")
def setop_union(spark, sf_dir):
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register("setop_intersect", oracle="""
SELECT c_custkey AS k FROM customer
INTERSECT
SELECT o_custkey AS k FROM orders
""")
def setop_intersect(spark, sf_dir):
    """INTERSECT: customers that have orders."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.intersect(o)


@register("setop_except", oracle="""
SELECT c_custkey AS k FROM customer
EXCEPT
SELECT o_custkey AS k FROM orders
""")
def setop_except(spark, sf_dir):
    """EXCEPT: customers with no orders (anti-join shape)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.subtract(o)


@register("scalar_string", oracle="""
SELECT p_partkey,
       upper(substr(p_name, 1, 8)) AS name_prefix,
       CAST(length(p_name) AS BIGINT) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       replace(p_type, ' ', '_') AS type_snake,
       CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
FROM part
""")
def scalar_string(spark, sf_dir):
    """String scalar functions (upper/substr/length/concat/replace/instr)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace(F.col("p_type"), " ", "_").alias("type_snake"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("first_a"),
    )


@register("scalar_datetime", oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(day(o_orderdate) AS BIGINT) AS d,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
       CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch
FROM orders
""")
def scalar_datetime(spark, sf_dir):
    """Datetime scalar functions with the epoch/bigint parity convention."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate")))
        .cast("bigint").alias("month_epoch"),
    )


@register("scalar_math", oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 1000.0) AS abs_delta,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
       round(sqrt(l_extendedprice), 6) AS price_sqrt,
       l_extendedprice * l_discount AS disc_amount
FROM lineitem
""")
def scalar_math(spark, sf_dir):
    """Math scalar functions; sqrt is IEEE-exact, products are
    deterministic row-local double ops."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_delta"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amount"),
    )


@register("scalar_json", oracle="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
""")
def scalar_json(spark, sf_dir):
    """JSON field extraction from the events props payload."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )
