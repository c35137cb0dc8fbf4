"""Join queries: the reference's ``JoinExecutor`` façade and a TPC-H-shaped
SQL suite.

- ``join_*``, ``theta_*``, ``filter_algebra``, ``projection``: the
  reference's own surface (SURVEY.md §2).  These go through
  :class:`JoinExecutor`, not raw DataFrame code, so the oracle check
  exercises the façade end to end: J1-J4 equi joins, J6 theta joins,
  J7 composite keys, J9 alias self-join, J10 chained left-deep, P1-P3
  projection, F1-F2 condition algebra (reference anchors in each
  docstring).  Semi/anti, cross, salted-skew, band and interval joins
  extend it.
- ``sql_q*``: TPC-H Q1-Q22 shapes run through the full-SQL front end
  (``spark.sql`` over registered views) with the same text as the
  DuckDB oracle.  The test data has no ``partsupp`` table and no
  ``l_shipmode``/``l_commitdate``/``l_receiptdate`` columns, so Q9,
  Q11, Q12, Q20 and Q21 use column analogues that keep each query's
  plan shape: supply cost ``p_retailprice·l_quantity/10`` (Q9), a
  nation's lineitem revenue as inventory value (Q11), "late" =
  shipped more than 60 days after the order (Q12), a shipped-quantity
  threshold per (supplier, part) (Q20), and the unique last-shipping
  supplier of a multi-supplier order (Q21).  Money aggregates are
  ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)``; scalar thresholds
  are decimal sum / count so both engines derive the same double.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.condition import Condition
from ..plans.executor import JoinExecutor
from ..plans.table_info import TableInfo
from ..registry import register
from ..sources.catalog import load_table


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


@register("join_skew_salted", oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity,
       p.p_name, p.p_brand
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 25
""")
def join_skew_salted(spark, sf_dir):
    """Salted equi-join (operators/skew.py): the big side is scattered
    across salt sub-partitions by a CONTENT-derived hash (retry-safe —
    never rand()/monotonically_increasing_id), the small side is
    exploded across all salt values, and the join adds the salt to the
    key.  The oracle is the PLAIN join: salting must be a pure
    physical-layout change with bit-identical results.  salt_source
    uses the big side's primary key (orderkey, linenumber) for an even
    scatter without hashing every column."""
    from ..operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25) \
        .select("p_partkey", "p_name", "p_brand")
    out = salted_join(
        l.withColumn("_sk", F.concat_ws("|", "l_orderkey", "l_linenumber")),
        p, on=[("l_partkey", "p_partkey")], salt_buckets=8,
        salt_source="_sk",
    )
    return out.select("l_orderkey", "l_linenumber", "l_partkey",
                      "l_quantity", "p_name", "p_brand")


@register("join_cross", oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
""")
def join_cross(spark, sf_dir):
    """Explicit cartesian product (the reference's nested-loop join
    with no predicate, ``cassandra_joinlib/nested_join.py`` shape) —
    Spark requires the explicit crossJoin call, and the planner uses
    BroadcastNestedLoopJoin when one side is small."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register("join_inner", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       c.c_nationkey AS customer_c_nationkey, c.c_acctbal AS customer_c_acctbal,
       n.n_nationkey AS nation_n_nationkey, n.n_name AS nation_n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE COALESCE(c.c_acctbal > 1000, FALSE)
""")
def join_inner(spark, sf_dir):
    """J1 inner equi-join + P1 projection + F1 filter
    (reference: intermediate_result.py:126-403)."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
        .select("customer", {"c_custkey", "c_name", "c_nationkey", "c_acctbal"})
        .select("nation", {"n_nationkey", "n_name"})
        .filter_by(Condition("customer.c_acctbal", ">", 1000))
        .execute()
    )


@register("join_left", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       o.o_orderkey AS orders_o_orderkey, o.o_custkey AS orders_o_custkey,
       o.o_totalprice AS orders_o_totalprice
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
""")
def join_left(spark, sf_dir):
    """J2 left outer equi-join — unmatched customers NULL-padded
    (reference: intermediate_result.py:229-248)."""
    return (
        JoinExecutor(spark, sf_dir)
        .leftJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .select("customer", {"c_custkey", "c_name"})
        .select("orders", {"o_orderkey", "o_custkey", "o_totalprice"})
        .execute()
    )


@register("join_right", oracle="""
SELECT o.o_orderkey AS orders_o_orderkey, o.o_custkey AS orders_o_custkey,
       c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       c.c_acctbal AS customer_c_acctbal
FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
""")
def join_right(spark, sf_dir):
    """J3 right outer equi-join (reference: intermediate_result.py:250-269)."""
    return (
        JoinExecutor(spark, sf_dir)
        .rightJoin(TableInfo("orders", "o_custkey"), TableInfo("customer", "c_custkey"))
        .select("orders", {"o_orderkey", "o_custkey"})
        .select("customer", {"c_custkey", "c_name", "c_acctbal"})
        .execute()
    )


@register("join_full", oracle="""
SELECT s.s_suppkey AS supplier_s_suppkey, s.s_name AS supplier_s_name,
       s.s_nationkey AS supplier_s_nationkey,
       c.c_custkey AS customer_c_custkey, c.c_nationkey AS customer_c_nationkey,
       c.c_mktsegment AS customer_c_mktsegment
FROM supplier s FULL OUTER JOIN customer c ON s.s_nationkey = c.c_nationkey
""")
def join_full(spark, sf_dir):
    """J4 full outer equi-join, many-to-many key
    (reference: intermediate_result.py:271-304)."""
    return (
        JoinExecutor(spark, sf_dir)
        .fullOuterJoin(
            TableInfo("supplier", "s_nationkey"), TableInfo("customer", "c_nationkey")
        )
        .select("supplier", {"s_suppkey", "s_name", "s_nationkey"})
        .select("customer", {"c_custkey", "c_nationkey", "c_mktsegment"})
        .execute()
    )


@register("join_chain3", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       c.c_nationkey AS customer_c_nationkey, c.c_mktsegment AS customer_c_mktsegment,
       n.n_nationkey AS nation_n_nationkey, n.n_name AS nation_n_name,
       n.n_regionkey AS nation_n_regionkey,
       r.r_regionkey AS region_r_regionkey, r.r_name AS region_r_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE (COALESCE(c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING'), FALSE)
       AND NOT COALESCE(r.r_name = 'EUROPE', FALSE))
""")
def join_chain3(spark, sf_dir):
    """J10 chained left-deep 3-table join + F1 algebra (IN, ~, &)
    (reference: hash_join.py:295-339; commands.py:100-147)."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
        .join(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"))
        .select("customer", {"c_custkey", "c_name", "c_nationkey", "c_mktsegment"})
        .select("nation", {"n_nationkey", "n_name", "n_regionkey"})
        .select("region", {"r_regionkey", "r_name"})
        .filter_by(
            Condition("customer.c_mktsegment", "IN", {"BUILDING", "AUTOMOBILE"})
            & ~Condition("region.r_name", "=", "EUROPE")
        )
        .execute()
    )


@register("join_composite", oracle="""
SELECT a.l_orderkey AS a_l_orderkey, a.l_linenumber AS a_l_linenumber,
       a.l_quantity AS a_l_quantity,
       b.l_orderkey AS b_l_orderkey, b.l_linenumber AS b_l_linenumber,
       b.l_extendedprice AS b_l_extendedprice
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
""")
def join_composite(spark, sf_dir):
    """J7 composite-key equi-join via tuple join_column
    (reference: utils.py:512-525; hash_join.py:1011-1018)."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(
            TableInfo("lineitem", ("l_orderkey", "l_linenumber"), "a"),
            TableInfo("lineitem", ("l_orderkey", "l_linenumber"), "b"),
        )
        .select("a", {"l_orderkey", "l_linenumber", "l_quantity"})
        .select("b", {"l_orderkey", "l_linenumber", "l_extendedprice"})
        .execute()
    )


@register("join_self_alias", oracle="""
SELECT a.n_nationkey AS a_n_nationkey, a.n_name AS a_n_name,
       a.n_regionkey AS a_n_regionkey,
       b.n_nationkey AS b_n_nationkey, b.n_name AS b_n_name,
       b.n_regionkey AS b_n_regionkey
FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
WHERE COALESCE(a.n_nationkey < b.n_nationkey, FALSE)
""")
def join_self_alias(spark, sf_dir):
    """J9 self-join via alias; rhs of the filter is a column reference
    (reference: commands.py:44-49, operand resolution commands.py:109-147)."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(TableInfo("nation", "n_regionkey", "a"), TableInfo("nation", "n_regionkey", "b"))
        .filter_by(Condition("a.n_nationkey", "<", "b.n_nationkey"))
        .execute()
    )


@register("theta_lt", oracle="""
SELECT s.s_suppkey AS supplier_s_suppkey, s.s_acctbal AS supplier_s_acctbal,
       c.c_custkey AS customer_c_custkey, c.c_acctbal AS customer_c_acctbal
FROM supplier s JOIN customer c ON s.s_acctbal < c.c_acctbal
""")
def theta_lt(spark, sf_dir):
    """J6 theta inner join with ``<`` — Catalyst plans a broadcast
    nested-loop join, the reference's block-nested-loop
    (nested_join.py:809-846) with the small side broadcast."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(TableInfo("supplier", "s_acctbal"), TableInfo("customer", "c_acctbal"),
              operator="<")
        .select("supplier", {"s_suppkey", "s_acctbal"})
        .select("customer", {"c_custkey", "c_acctbal"})
        .execute()
    )


@register("theta_neq", oracle="""
SELECT n.n_nationkey AS nation_n_nationkey, n.n_regionkey AS nation_n_regionkey,
       r.r_regionkey AS region_r_regionkey, r.r_name AS region_r_name
FROM nation n JOIN region r ON n.n_regionkey != r.r_regionkey
""")
def theta_neq(spark, sf_dir):
    """J6 theta join with ``!=`` (nested_join.py:1000-1036)."""
    return (
        JoinExecutor(spark, sf_dir)
        .join(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"),
              operator="!=")
        .select("nation", {"n_nationkey", "n_regionkey"})
        .select("region", {"r_regionkey", "r_name"})
        .execute()
    )


@register("theta_left_outer", oracle="""
SELECT n.n_nationkey AS nation_n_nationkey, n.n_regionkey AS nation_n_regionkey,
       r.r_regionkey AS region_r_regionkey, r.r_name AS region_r_name
FROM nation n LEFT JOIN region r ON n.n_regionkey > r.r_regionkey
""")
def theta_left_outer(spark, sf_dir):
    """J6 theta LEFT join — unmatched left rows NULL-padded, matching
    the reference's flag-based flush (nested_join.py:1101-1153)."""
    return (
        JoinExecutor(spark, sf_dir)
        .leftJoin(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"),
                  operator=">")
        .select("nation", {"n_nationkey", "n_regionkey"})
        .select("region", {"r_regionkey", "r_name"})
        .execute()
    )


@register("theta_right_outer", oracle="""
SELECT n.n_nationkey AS nation_n_nationkey, n.n_regionkey AS nation_n_regionkey,
       r.r_regionkey AS region_r_regionkey, r.r_name AS region_r_name
FROM nation n RIGHT JOIN region r ON n.n_regionkey > r.r_regionkey
""")
def theta_right_outer(spark, sf_dir):
    """J6 theta RIGHT join — unmatched right rows NULL-padded on the
    left (reference right-outer BNLJ layout: nested_join.py:743-949);
    Spark plans BroadcastNestedLoopJoin with the stream/build sides
    arranged for the preserved (right) side."""
    return (
        JoinExecutor(spark, sf_dir)
        .rightJoin(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"),
                   operator=">")
        .select("nation", {"n_nationkey", "n_regionkey"})
        .select("region", {"r_regionkey", "r_name"})
        .execute()
    )


@register("theta_full_outer", oracle="""
SELECT n.n_nationkey AS nation_n_nationkey, n.n_regionkey AS nation_n_regionkey,
       r.r_regionkey AS region_r_regionkey, r.r_name AS region_r_name
FROM nation n FULL JOIN region r ON n.n_regionkey < r.r_regionkey
""")
def theta_full_outer(spark, sf_dir):
    """J6 theta FULL join — both sides' unmatched rows flushed
    NULL-padded (reference full-outer flag arrays:
    nested_join.py:1101-1171).  With region keys 0..4, ``<`` leaves
    the max-key nations AND region 0 unmatched, so both flush paths
    are genuinely exercised rather than degenerating to inner rows."""
    return (
        JoinExecutor(spark, sf_dir)
        .fullOuterJoin(TableInfo("nation", "n_regionkey"),
                       TableInfo("region", "r_regionkey"), operator="<")
        .select("nation", {"n_nationkey", "n_regionkey"})
        .select("region", {"r_regionkey", "r_name"})
        .execute()
    )


@register("filter_algebra", oracle="""
SELECT c.c_custkey AS customer_c_custkey, c.c_name AS customer_c_name,
       c.c_mktsegment AS customer_c_mktsegment, c.c_acctbal AS customer_c_acctbal
FROM customer c
WHERE ((COALESCE(c.c_mktsegment IN ('MACHINERY', 'HOUSEHOLD'), FALSE)
        AND COALESCE(c.c_acctbal >= 5000, FALSE))
       OR NOT COALESCE(contains(c.c_name, '1'), FALSE))
""")
def filter_algebra(spark, sf_dir):
    """F1 condition algebra on a single-table scan: IN, CONTAINS,
    ``& | ~`` combinators (reference: commands.py:52-159)."""
    return (
        JoinExecutor(spark, sf_dir)
        .scan(TableInfo("customer"))
        .select("customer", {"c_custkey", "c_name", "c_mktsegment", "c_acctbal"})
        .filter_by(
            (
                Condition("customer.c_mktsegment", "IN", {"MACHINERY", "HOUSEHOLD"})
                & Condition("customer.c_acctbal", ">=", 5000)
            )
            | ~Condition("customer.c_name", "CONTAINS", "1")
        )
        .execute()
    )


@register("projection", oracle="""
SELECT p.p_partkey AS part_p_partkey, p.p_size AS part_p_size,
       p.p_retailprice AS part_p_retailprice
FROM part p WHERE COALESCE(p.p_size <= 20, FALSE)
""")
def projection(spark, sf_dir):
    """P1 projection with filter-referenced column force-added to the
    scan (reference addColumn: hash_join.py:59-89) — p_size is read for
    the filter; the parquet scan prunes all other columns."""
    return (
        JoinExecutor(spark, sf_dir)
        .scan(TableInfo("part"))
        .select("part", {"p_partkey", "p_retailprice"})
        .filter_by(Condition("part.p_size", "<=", 20))
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


def _view(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    df.createOrReplaceTempView(name)
    return df


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


_Q7ISH = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
"""


def _sql(name, tables, sql, doc):
    @register(name, oracle=sql)
    def q(spark, sf_dir):
        for t in tables:
            _view(spark, sf_dir, t)
        return spark.sql(sql)

    q.__name__ = name
    q.__doc__ = doc
    return q


sql_q7_volume_shipping = _sql(
    "sql_q7_volume_shipping",
    ("supplier", "lineitem", "orders", "customer", "nation"),
    _Q7ISH,
    """TPC-H Q7-shaped: 6-way join (nation joined twice under different
    aliases) with a disjunctive nation-pair filter and a shipdate
    window — exercises join reordering over a shared dimension.""",
)


_Q8ISH = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CASE WHEN sn.n_name = 'NATION_8'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
            AS DOUBLE) AS mkt_share
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = cn.n_regionkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY year(o.o_orderdate)
"""


sql_q8_market_share = _sql(
    "sql_q8_market_share",
    ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    _Q8ISH,
    """TPC-H Q8-shaped: national market share — an 8-way join (largest
    in the suite) with a conditional-aggregate ratio; the dimension
    chain (region→nation→customer) should all broadcast.""",
)


_Q13ISH = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) d
GROUP BY c_count
"""


sql_q13_customer_distribution = _sql(
    "sql_q13_customer_distribution",
    ("customer", "orders"),
    _Q13ISH,
    """TPC-H Q13-shaped: orders-per-customer histogram — LEFT JOIN with
    an ON-clause residual predicate (kept on the join, not WHERE, so
    order-less customers survive), then a second aggregation over the
    first's output.""",
)


_Q14ISH = """
SELECT CAST(100.00
       * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
       AS DOUBLE) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


sql_q14_promo_revenue = _sql(
    "sql_q14_promo_revenue",
    ("lineitem", "part"),
    _Q14ISH,
    """TPC-H Q14-shaped: promotion revenue share — single-row
    conditional-aggregate ratio; the month filter must push into the
    lineitem scan before the part join.""",
)


_Q15ISH = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


sql_q15_top_supplier = _sql(
    "sql_q15_top_supplier",
    ("lineitem", "supplier"),
    _Q15ISH,
    """TPC-H Q15-shaped: top supplier by quarterly revenue — CTE reused
    twice (aggregate + scalar MAX subquery); the equality compare stays
    in exact DECIMAL, only the output casts to double.""",
)


_Q17ISH = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
       AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND p.p_size < 10
  AND l.l_quantity < (
    SELECT 0.2 * SUM(l2.l_quantity) / COUNT(*)
    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
  )
"""


sql_q17_small_quantity = _sql(
    "sql_q17_small_quantity",
    ("lineitem", "part"),
    _Q17ISH,
    """TPC-H Q17-shaped: small-quantity-order revenue — correlated
    scalar AVG subquery against the fact table itself (decorrelates to
    a per-partkey aggregate re-joined to lineitem); threshold computed
    as SUM/COUNT of integer-valued doubles so both engines agree
    bit-for-bit.""",
)


_Q19ISH = """
SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


sql_q19_discounted_revenue = _sql(
    "sql_q19_discounted_revenue",
    ("lineitem", "part"),
    _Q19ISH,
    """TPC-H Q19-shaped: disjunction of conjunctive brand/size/quantity
    ranges — the classic OR-pushdown test (Catalyst extracts the
    common p_partkey join and pushes per-branch constraints into both
    scans via CNF conversion).""",
)


_Q22ISH = """
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM (
  SELECT substr(c.c_name, 16, 2) AS cntrycode, c.c_acctbal
  FROM customer c
  WHERE substr(c.c_name, 16, 2)
        IN ('00', '11', '22', '33', '44', '55', '66', '77', '88', '99')
    AND c.c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      FROM customer c2
      WHERE c2.c_acctbal > 0.0
        AND substr(c2.c_name, 16, 2)
            IN ('00', '11', '22', '33', '44', '55', '66', '77', '88', '99')
    )
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 450000.0)
) t
GROUP BY cntrycode
"""


sql_q22_global_sales_opportunity = _sql(
    "sql_q22_global_sales_opportunity",
    ("customer", "orders"),
    _Q22ISH,
    """TPC-H Q22-shaped: above-average-balance customers with no large
    order, by name-derived country code — uncorrelated scalar AVG
    threshold (decimal-sum/count so both engines produce the identical
    double) plus a correlated NOT EXISTS anti-join.  (The original's
    "no orders at all" is vacuous on this testdata — every customer
    has ~10 orders — so the anti-predicate is price-qualified to keep
    the selectivity the spec intends.)""",
)


_Q9ISH = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity * 0.1
                AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


sql_q9_product_profit = _sql(
    "sql_q9_product_profit",
    ("lineitem", "part", "supplier", "orders", "nation"),
    _Q9ISH,
    """TPC-H Q9-shaped: product-type profit by supplier nation and
    year — 5-way star join with a substring part filter; profit uses
    the retail-price cost proxy (no partsupp in the testdata).  The
    p_name LIKE filter must reach the part scan so the fact join
    probes a pre-filtered build side.""",
)


_Q11ISH = """
WITH value_by_part AS (
  SELECT l.l_partkey AS p_key,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY l.l_partkey
)
SELECT p_key AS p_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM value_by_part
WHERE part_value > (
  SELECT SUM(part_value) * 0.001 FROM value_by_part
)
"""


sql_q11_important_stock = _sql(
    "sql_q11_important_stock",
    ("lineitem", "supplier", "nation"),
    _Q11ISH,
    """TPC-H Q11-shaped: parts whose one-nation revenue exceeds a
    fraction of the national total — the CTE is aggregated once and
    reused by both the outer scan and the uncorrelated scalar
    threshold subquery (original compares partsupp inventory value;
    same group-then-global-scalar plan shape).  The comparison stays
    in exact DECIMAL; only the output casts to double.""",
)


_Q12ISH = """
SELECT l.l_returnflag AS ship_class,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
  AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


sql_q12_late_shipments = _sql(
    "sql_q12_late_shipments",
    ("orders", "lineitem"),
    _Q12ISH,
    """TPC-H Q12-shaped: priority mix of LATE shipments by line class —
    the late predicate (shipped >60 days after order date, standing in
    for receipt-after-commit) correlates the two join sides so it can
    only apply post-join, while the shipdate year window pushes into
    the lineitem scan; two complementary CASE counts per group.""",
)


_Q20ISH = """
SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (
    SELECT p.p_partkey FROM part p WHERE p.p_name LIKE 'red%'
  )
    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING SUM(l.l_quantity) > 45.0
)
  AND s.s_nationkey IN (
    SELECT n.n_nationkey FROM nation n WHERE n.n_name = 'NATION_5'
  )
"""


sql_q20_potential_promotion = _sql(
    "sql_q20_potential_promotion",
    ("supplier", "lineitem", "part", "nation"),
    _Q20ISH,
    """TPC-H Q20-shaped: suppliers of 'red' parts with heavy shipped
    volume in one nation — the signature NESTED IN-subquery chain
    (supplier ← grouped lineitem ← part), each level decorrelating to
    a semi-join; the HAVING threshold stands in for the availqty
    comparison.  The part filter must prune before the fact-table
    group-by.""",
)


_Q21ISH = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
JOIN nation n    ON n.n_nationkey = s.s_nationkey
WHERE o.o_orderstatus = 'F'
  AND n.n_name = 'NATION_1'
  AND EXISTS (
    SELECT /*+ SHUFFLE_MERGE(l2) */ 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT /*+ SHUFFLE_MERGE(l3) */ 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
"""


sql_q21_waiting_suppliers = _sql(
    "sql_q21_waiting_suppliers",
    ("supplier", "lineitem", "orders", "nation"),
    _Q21ISH,
    """TPC-H Q21-shaped: suppliers who held up multi-supplier finished
    orders — kept-waiting is 'no co-supplier shipped later' (standing
    in for receipt-after-commit), preserving the correlated EXISTS
    (another supplier in the order) + NOT EXISTS (none shipped later)
    pair, which Catalyst decorrelates to a semi- and an anti-join on
    l_orderkey.  Counted per qualifying lineitem, as in the spec.

    The subqueries carry SHUFFLE_MERGE hints (comment syntax, ignored
    by the DuckDB twin): their build side is the FACT table, whose
    column-pruned compressed scan estimate can sneak under the 64 MB
    broadcast threshold long after the real hashed relation stopped
    fitting (at sf10 Spark broadcast 60 M rows: 95 s and GC thrash vs
    13 s warm with the shuffle plan; at 100 TB a fact-table broadcast
    is simply fatal).  Dimension broadcasts (supplier/orders/nation)
    stay untouched.""",
)


@register("band_join_acctbal", oracle="""
SELECT s.s_suppkey, s.s_acctbal, c.c_custkey, c.c_acctbal
FROM supplier s JOIN customer c ON abs(s.s_acctbal - c.c_acctbal) <= 25.0
""")
def band_join_acctbal(spark, sf_dir):
    """Band theta join (|a-b| <= w) via the bucketized equi-join
    rewrite (operators/range_join.py) — O(N*M) BNLJ becomes a shuffle
    join on quantized buckets."""
    from ..operators.range_join import band_join

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return band_join(s, "s_acctbal", c, "c_acctbal", width=25.0)


def _ship_epochs(spark, sf_dir):
    """Lineitem keys with their ship date in epoch seconds."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.unix_timestamp("l_shipdate").cast("bigint").alias("ship_epoch"),
    )


@register("interval_join_shipdate", oracle="""
SELECT l.l_orderkey, l.l_linenumber,
       CAST(epoch(l.l_shipdate) AS BIGINT) AS ship_epoch,
       o.o_orderkey,
       CAST(epoch(o.o_orderdate) AS BIGINT) AS order_epoch
FROM lineitem l
JOIN orders o
  ON epoch(l.l_shipdate) >= epoch(o.o_orderdate)
 AND epoch(l.l_shipdate) <= epoch(o.o_orderdate) + 604800
WHERE o.o_orderkey % 100 = 0
""")
def interval_join_shipdate(spark, sf_dir):
    """Point-in-interval join via bucketization: lineitems shipped
    within 7 days of (a sampled set of) order dates."""
    from ..operators.range_join import interval_join

    l = _ship_epochs(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("bigint").alias("order_epoch"),
    )
    iv = o.withColumn("end_epoch", F.col("order_epoch") + 604800)
    out = interval_join(l, "ship_epoch", iv, "order_epoch", "end_epoch",
                        bucket_width=604800)
    return out.select("l_orderkey", "l_linenumber", "ship_epoch",
                      "o_orderkey", "order_epoch")


@register("interval_join_facade", oracle="""
SELECT l.l_orderkey, l.l_linenumber,
       CAST(epoch(l.l_shipdate) AS BIGINT) AS ship_epoch,
       o.o_orderkey AS iv_key,
       CAST(epoch(o.o_orderdate) AS BIGINT) AS lo_epoch,
       CAST(epoch(o.o_orderdate) AS BIGINT) + 604800 AS hi_epoch
FROM lineitem l JOIN orders o
  ON epoch(l.l_shipdate) >= epoch(o.o_orderdate)
 AND epoch(l.l_shipdate) <= epoch(o.o_orderdate) + 604800
WHERE o.o_orderkey % 100 = 0
""")
def interval_join_facade(spark, sf_dir):
    """The same point-in-interval query driven through the JoinExecutor
    façade: a theta join (``>=``) plus a ``filter_by`` upper bound is
    pattern-matched and auto-rewritten into the bucketized equi-join
    (executor.py:_try_interval_rewrite) — the reference would run this
    as an O(N*M) block nested loop (``nested_join.py:809-846``)."""
    from ..plans.condition import Condition
    from ..plans.executor import JoinExecutor
    from ..plans.table_info import TableInfo
    from ..sources.catalog import MemoryCatalog

    l = _ship_epochs(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("iv_key"),
        F.unix_timestamp("o_orderdate").cast("bigint").alias("lo_epoch"),
    )
    iv = o.withColumn("hi_epoch", F.col("lo_epoch") + F.lit(604800))
    ex = (
        JoinExecutor(spark, MemoryCatalog({"pts": l, "iv": iv}))
        .join(TableInfo("pts", "ship_epoch"), TableInfo("iv", "lo_epoch"), ">=")
        .filter_by(Condition("pts.ship_epoch", "<=", "iv.hi_epoch"))
    )
    return ex.execute().select(
        F.col("pts_l_orderkey").alias("l_orderkey"),
        F.col("pts_l_linenumber").alias("l_linenumber"),
        F.col("pts_ship_epoch").alias("ship_epoch"),
        F.col("iv_iv_key").alias("iv_key"),
        F.col("iv_lo_epoch").alias("lo_epoch"),
        F.col("iv_hi_epoch").alias("hi_epoch"),
    )
