"""Relational queries: aggregation, scalar functions, windows, set
operations, pivots, top-k and data layout.

The reference implements none of these (SURVEY.md §2.6); they compile
to Spark built-ins.  Every aggregation is a partial-aggregate
(map-side combine) shape; top-k runs ``orderBy().limit()``, which Spark
executes as a per-partition TakeOrdered plus a driver merge of k rows;
windows partition by bounded keys and carry a total order (tiebreak on
a key column).  ntile and row-based ranks are BIGINT; cume_dist and
percent_rank are ratios of BIGINTs, which IEEE division rounds the
same way in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..functions.scalars import davg, dsum
from ..operators.layout import zonemap_report
from ..operators.stats import _RDIV, nearest_value_topk, pareto_frontier_2d
from ..registry import register
from ..sources.catalog import load_table
from ._shared import _EPRICE_CENTS, _rdiv_sql, _TP_CENTS


@register("agg_cube", oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total"),
    )


@register("agg_grouping_sets", oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
""")
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (a strict subset of CUBE — one pass,
    Spark expands to a single Expand+Aggregate, not one job per set)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total"),
    )


@register("agg_collect_sorted", oracle="""
SELECT s_nationkey,
       array_to_string(list_sort(list(s_suppkey)), ',') AS suppliers
FROM supplier
GROUP BY s_nationkey
""")
def agg_collect_sorted(spark, sf_dir):
    """Grouped collection aggregate — sorted then serialized so the
    result is deterministic under any partitioning (bare collect_list
    order is partition-dependent; never expose it raw)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("s_suppkey")), ",")
        .alias("suppliers")
    )


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


@register("scalar_conditional", oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 150000 THEN 'large'
            WHEN o_totalprice >= 50000 THEN 'medium'
            ELSE 'small' END AS size_class,
       CASE o_orderstatus WHEN 'F' THEN 'finished'
                          WHEN 'O' THEN 'open'
                          ELSE 'other' END AS status_word,
       (o_totalprice >= 150000 AND o_orderstatus = 'O') AS big_open
FROM orders
""")
def scalar_conditional(spark, sf_dir):
    """Conditional expressions: searched CASE, simple CASE, boolean."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 150000, "large")
        .when(F.col("o_totalprice") >= 50000, "medium")
        .otherwise("small").alias("size_class"),
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other").alias("status_word"),
        ((F.col("o_totalprice") >= 150000) & (F.col("o_orderstatus") == "O"))
        .alias("big_open"),
    )


@register("scalar_date_arith", oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS days_since_95,
       strftime(l_shipdate + INTERVAL 30 DAY, '%Y-%m-%d') AS ship_plus_30,
       strftime(date_trunc('quarter', l_shipdate), '%Y-%m-%d') AS quarter_start,
       CAST(dayofweek(l_shipdate) AS BIGINT) AS dow_sunday0
FROM lineitem
WHERE l_orderkey % 50 = 0
""")
def scalar_date_arith(spark, sf_dir):
    """Date arithmetic: datediff, interval add, quarter truncation,
    day-of-week (normalized to DuckDB's Sunday=0 convention)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.col("l_orderkey") % 50 == 0).select(
        "l_orderkey", "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint").alias("days_since_95"),
        F.date_format(F.date_add(F.col("l_shipdate"), 30), "yyyy-MM-dd")
        .alias("ship_plus_30"),
        F.date_format(F.date_trunc("quarter", F.col("l_shipdate")), "yyyy-MM-dd")
        .alias("quarter_start"),
        (F.dayofweek("l_shipdate") - 1).cast("bigint").alias("dow_sunday0"),
    )


@register("scalar_string2", oracle="""
SELECT p_partkey,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
       trim(p_name) AS trimmed,
       split_part(p_type, ' ', 1) AS type_first_word,
       reverse(p_brand) AS brand_rev,
       CAST(ascii(p_name) AS BIGINT) AS first_char_code,
       repeat(p_brand, 2) AS brand_twice
FROM part
""")
def scalar_string2(spark, sf_dir):
    """String functions batch 2: pad/trim/split_part/reverse/ascii/repeat."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.trim("p_name").alias("trimmed"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.reverse("p_brand").alias("brand_rev"),
        F.ascii("p_name").cast("bigint").alias("first_char_code"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
    )


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


@register("window_ntile_dist", oracle="""
SELECT c_custkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       cume_dist() OVER w AS cdist,
       percent_rank() OVER w AS prank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""")
def window_ntile_dist(spark, sf_dir):
    """Distribution window functions: ntile / cume_dist / percent_rank
    per market segment.  The ORDER BY includes the key as a tiebreak so
    every row has a unique rank — without it cume_dist over tied
    acctbals would still agree, but ntile's tie placement would not."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
        F.percent_rank().over(w).alias("prank"),
    )


@register("window_first_last", oracle="""
SELECT c_custkey, c_mktsegment,
       first_value(c_custkey) OVER w AS poorest_key,
       last_value(c_custkey)  OVER w AS richest_key
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def window_first_last(spark, sf_dir):
    """first_value/last_value with an explicit full frame — the default
    frame stops at CURRENT ROW, which makes last_value a no-op; the
    explicit ROWS UNBOUNDED frame is the portable (and useful) form."""
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey", "c_mktsegment",
        F.first("c_custkey").over(w).alias("poorest_key"),
        F.last("c_custkey").over(w).alias("richest_key"),
    )


@register("window_ratio_to_report", oracle="""
SELECT o_orderkey, o_custkey,
       round(o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                                 OVER (PARTITION BY o_custkey) AS DOUBLE),
             6) AS price_share
FROM orders
""")
def window_ratio_to_report(spark, sf_dir):
    """Ratio-to-report: each order's share of its customer's total
    spend — an unordered window aggregate (no sort inside partitions,
    one hash shuffle on the partition key).  The denominator sums
    decimal-exactly so both engines divide identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    denom = F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double")
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") / denom, 6).alias("price_share"),
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


@register("window_cume_percent", oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
         AS acctbal_cume,
       percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
         AS acctbal_pctrank
FROM customer
""")
def window_cume_percent(spark, sf_dir):
    """cume_dist + percent_rank within market segment — the two
    ANSI distribution window functions (both are single rational
    divisions of rank counters, so the doubles agree bit-for-bit
    across engines).  Partitioned window, segment-keyed."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.cume_dist().over(w).alias("acctbal_cume"),
        F.percent_rank().over(w).alias("acctbal_pctrank"),
    )


@register("setop_except_all", oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
""")
def setop_except_all(spark, sf_dir):
    """Multiset difference — keeps surplus duplicate counts, unlike
    EXCEPT (DISTINCT); the pattern behind incremental-corpus
    subtraction (remove one occurrence per matched row)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.exceptAll(b)


@register("setop_intersect_all", oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
""")
def setop_intersect_all(spark, sf_dir):
    """Multiset intersection (min of per-side duplicate counts)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.intersectAll(b)


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


@register("unpivot_metrics", oracle="""
SELECT c_custkey, metric, value FROM (
  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
  UNION ALL
  SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
)
""")
def unpivot_metrics(spark, sf_dir):
    """Unpivot / melt wide columns into (key, metric, value) rows."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")


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


@register("null_handling", oracle="""
WITH padded AS (
  SELECT c.c_custkey, o.o_totalprice
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
)
SELECT c_custkey,
       COALESCE(o_totalprice, 0.0) AS price_filled,
       (o_totalprice IS NULL) AS was_null
FROM padded
""")
def null_handling(spark, sf_dir):
    """NULL handling: fillna/coalesce + null flags over outer-join
    padding."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    padded = c.join(o, c.c_custkey == o.o_custkey, "left")
    return padded.select(
        "c_custkey",
        F.coalesce("o_totalprice", F.lit(0.0)).alias("price_filled"),
        F.col("o_totalprice").isNull().alias("was_null"),
    )


@register("distinct_rows", oracle="""
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
""")
def distinct_rows(spark, sf_dir):
    """Row-level DISTINCT."""
    return load_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


@register("regexp_extract_priority", oracle="""
SELECT o_orderkey,
       regexp_extract(o_orderpriority, '^(\\d+)-(\\w+)', 1) AS prio_num,
       regexp_extract(o_orderpriority, '^(\\d+)-(\\w+)', 2) AS prio_word,
       CAST(regexp_matches(o_orderpriority, '^[12]-') AS BOOLEAN) AS is_urgent
FROM orders
""")
def regexp_extract_priority(spark, sf_dir):
    """Regex extraction and matching."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^(\d+)-(\w+)", 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"^(\d+)-(\w+)", 2).alias("prio_word"),
        F.col("o_orderpriority").rlike("^[12]-").alias("is_urgent"),
    )


@register("argmax_per_group", oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey AS top_orderkey,
       o_totalprice AS top_totalprice
FROM ranked WHERE rn = 1
""")
def argmax_per_group(spark, sf_dir):
    """Argmax per group (each customer's single most expensive order)
    with a deterministic tiebreak — row_number over (value DESC, key)
    rather than max_by, whose tie choice is engine-defined.  Partial
    top-1 per map partition would push this map-side at scale; the
    rank-and-filter form is what Catalyst already optimizes to a
    WindowGroupLimit (top-k pushdown), no full sort of each group."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("top_orderkey"),
            F.col("o_totalprice").alias("top_totalprice"),
        )
    )


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
        "o_orderpriority", "o_orderkey", "cents")
    return out.filter(F.col("id") % 199 == 0)


@register("lineitem_abc_analysis", oracle=f"""
WITH rev AS (
  SELECT l_partkey AS p, CAST(SUM({_EPRICE_CENTS}) AS BIGINT) AS r
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT p, r,
         CAST(SUM(r) OVER (ORDER BY r DESC, p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(SUM(r) OVER () AS BIGINT) AS total
  FROM rev
), classed AS (
  SELECT p, r,
         CASE WHEN 100 * cum <= 80 * total THEN 'A'
              WHEN 100 * cum <= 95 * total THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(r) AS BIGINT) AS revenue_cents
FROM classed GROUP BY 1
""")
def lineitem_abc_analysis(spark, sf_dir):
    """ABC/Pareto classification: parts ranked by revenue, classified
    A (first 80% of cumulative revenue) / B (to 95%) / C (tail) with
    pure integer threshold comparisons.  The corpus collapses to the
    part-level revenue aggregate first (dimension-sized); the
    cumulative window runs over THAT, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(F.expr(_EPRICE_CENTS)).cast("bigint").alias("r"))
    w = Window.orderBy(F.desc("r"), F.asc("p")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    ranked = rev.select(
        "p", "r",
        F.sum("r").over(w).cast("bigint").alias("cum"),
        F.sum("r").over(Window.partitionBy()).cast("bigint")
        .alias("total"),
    )
    classed = ranked.select(
        "r",
        F.when(100 * F.col("cum") <= 80 * F.col("total"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("total"), "B")
        .otherwise("C").alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("r").cast("bigint").alias("revenue_cents"),
    )


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


def _zorder_oracle():
    from ..operators.layout import zorder_value_sql

    zsql = zorder_value_sql(
        ["o_custkey", "CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)"],
    )
    return f"""
SELECT o_orderkey, {zsql} AS zval
FROM orders
"""


@register("layout_zorder", oracle=_zorder_oracle())
def layout_zorder(spark, sf_dir):
    """Z-order (Morton) clustering value over (customer, order-day):
    the column ``zorder_layout`` range-partitions and sorts by so that
    parquet min-max stats prune on EITHER dimension.  The oracle
    evaluates the identical bit-interleave formula in SQL."""
    from ..operators.layout import zorder_value

    o = load_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    return o.select(
        "o_orderkey",
        zorder_value([F.col("o_custkey"), day], bits=8).alias("zval"),
    )


@register("layout_zonemap_skipping", oracle="""
SELECT CAST(doc_id // 64 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(n_chars) AS BIGINT) AS min_val,
       CAST(MAX(n_chars) AS BIGINT) AS max_val,
       MAX(n_chars) < 450 OR MIN(n_chars) > 700 AS prunable
FROM documents
GROUP BY 1
""")
def layout_zonemap_skipping(spark, sf_dir):
    """Zone-map / data-skipping report (operators/layout.py
    zonemap_report): per 64-doc bucket — the stand-in for a parquet
    row-group — min/max of n_chars and whether a 450..700 range scan
    could prune the bucket from its footer stats alone.  The
    diagnostic that says when to re-cluster (see ``layout_zorder``).
    One bucket-keyed aggregate."""
    return zonemap_report(load_table(spark, sf_dir, "documents"), "doc_id", "n_chars")


_BIN_TARGET = 32768


@register("layout_compaction_bins", oracle=f"""
WITH c AS (
  SELECT source, n_chars,
         CAST(SUM(n_chars) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents
), b AS (
  SELECT source, n_chars,
         CAST((cum - n_chars) // {_BIN_TARGET} AS BIGINT) AS bin
  FROM c
)
SELECT source, bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST({_rdiv_sql(f"1000000 * SUM(n_chars)", str(_BIN_TARGET))}
            AS BIGINT) AS fill_ppm
FROM b GROUP BY 1, 2
""")
def layout_compaction_bins(spark, sf_dir):
    """Small-file compaction planning — the table-maintenance pass
    every 100 TB lake needs: assign files (documents, sized by
    n_chars) to target-size output bins ({target} chars) by cumulative
    offset in a DETERMINISTIC md5 order, one plan row per output file.
    The window is partitioned BY SOURCE — compaction is per partition
    directory, so per-key state stays bounded and the planner
    parallelizes across partitions instead of the classic mistake of
    one global ORDER BY over the file manifest.  Next-fit by exclusive
    prefix sum: bin = (cum - size) div target — files straddle
    boundaries rather than leaving slack, matching coalesce-style
    byte-range planning.  ``fill_ppm`` grades each bin's fill factor
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    c = docs.select(
        "source", "n_chars",
        F.sum("n_chars").over(w).cast("bigint").alias("cum"))
    b = c.select(
        "source", "n_chars",
        F.expr(f"(cum - n_chars) div {_BIN_TARGET}")
        .cast("bigint").alias("bin"))
    return b.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select(
        "source", "bin", "n_files", "total_chars",
        F.expr(_RDIV.format(a="1000000 * total_chars",
                            b=str(_BIN_TARGET)))
        .cast("bigint").alias("fill_ppm"),
    )


layout_compaction_bins.__doc__ = layout_compaction_bins.__doc__.format(
    target=_BIN_TARGET)
