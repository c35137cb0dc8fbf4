"""Analytic-surface batch 3: distribution windows, array functions,
Z-order layout values, and Bloom-prefiltered joins.

Parity notes (registry.py conventions): ntile/row-based ranks are
exact integers → BIGINT; cume_dist/percent_rank are ratios of BIGINTs
(IEEE division is correctly rounded in both engines, so raw doubles
compare exactly); every window carries a total order (tiebreak on the
key column).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.scalars import dsum
from ..registry import register
from ..sources.catalog import load_table


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


@register("array_token_ops", oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
       list_contains(string_split(text, ' '), 'the') AS has_the
FROM documents
WHERE doc_id % 7 = 0
""")
def array_token_ops(spark, sf_dir):
    """Array-function surface over tokenized text: size, distinct
    count, slice, containment — all JVM collection expressions (the
    building blocks the dedup/text operators compose)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
    )


def _zorder_oracle():
    from ..operators.layout import zorder_value_sql

    zsql = zorder_value_sql(
        ["o_custkey", "CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)"],
        bits=8,
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


@register("bloom_prefilter_join", oracle="""
SELECT l.l_suppkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE s.s_nationkey < 5
GROUP BY l.l_suppkey
""")
def bloom_prefilter_join(spark, sf_dir):
    """Selective fact-dim join with an explicit Bloom prefilter: the
    dimension subset's keys build a constant-size Bloom filter
    (distributed bit_or aggregate), the fact side is pruned MAP-SIDE
    before its shuffle, and the exact join removes any false
    positives — so results are bit-identical to the plain join (the
    oracle) while the fact shuffle carries only ~matching rows."""
    from ..operators.bloom import bloom_prefilter

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5) \
        .select("s_suppkey")
    pruned = bloom_prefilter(l, "l_suppkey", s, "s_suppkey")
    return (
        pruned.join(s, pruned.l_suppkey == s.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@register("value_histogram", oracle="""
SELECT CAST(least(floor(l_extendedprice / 5000.0), 24) AS BIGINT) AS bin,
       CAST(least(floor(l_extendedprice / 5000.0), 24) * 5000 AS BIGINT)
         AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM lineitem
GROUP BY 1, 2
""")
def value_histogram(spark, sf_dir):
    """Equal-width value histogram (25 fixed 5000-wide bins, top bin
    open-ended) — the profiling primitive behind distribution reports;
    FIXED bin edges (never data-dependent min/max, which would need an
    extra pass and make bins non-reproducible across runs/appends).
    Partial-aggregate shape: shuffle carries one row per (partition,
    bin)."""
    l = load_table(spark, sf_dir, "lineitem")
    bin_ = F.least(F.floor(F.col("l_extendedprice") / 5000.0), F.lit(24)) \
        .cast("bigint")
    return (
        l.groupBy(bin_.alias("bin"), (bin_ * 5000).cast("bigint").alias("bin_lo"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("l_extendedprice").alias("total"),
        )
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


@register("stratified_sample", oracle="""
WITH ranked AS (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                     c_custkey) AS rn
  FROM customer
)
SELECT c_custkey, c_mktsegment, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 20
""")
def stratified_sample(spark, sf_dir):
    """Stratified sampling with EXACT per-stratum counts: rank rows
    inside each stratum by a content hash (md5 of the key — identical
    bytes in Spark and DuckDB, so the sample is engine-reproducible)
    and keep the first 20.  Runs through the TWO-LEVEL top-k
    (`operators/skew.py stratified_topk`): local top-20 per
    (stratum, content-salt) then a re-rank of the bounded survivors —
    a handful of huge strata never funnels through single-partition
    windows.  Provably identical to the one-window form, so the plain
    window is the oracle."""
    from ..operators.skew import stratified_topk

    c = load_table(spark, sf_dir, "customer")
    out = stratified_topk(
        c,
        "c_mktsegment",
        [F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")],
        n=20,
        salt_buckets=8,
    )
    return out.select("c_custkey", "c_mktsegment", "rn")


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


@register("winsorized_stats", oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n_items,
       round(CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS winsorized_mean
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""")
def winsorized_stats(spark, sf_dir):
    """Winsorized mean per group: exact p05/p95 bounds computed per
    group (tiny aggregate), broadcast back onto the fact table, values
    clamped, then a decimal-exact mean.  The robust-statistics shape
    for 100 TB quality filtering: the expensive pass is a plain
    partial aggregate; the bounds join is broadcast (no fact shuffle
    beyond the group agg)."""
    l = load_table(spark, sf_dir, "lineitem")
    bounds = l.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        l.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(clamped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_mean"),
        )
    )


@register("weighted_sample", oracle="""
WITH m AS (SELECT MAX(o_totalprice) AS mx FROM orders)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders, m
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0
      < o_totalprice / mx
""")
def weighted_sample(spark, sf_dir):
    """Probability-proportional-to-size sampling, fully deterministic:
    each order's keep-probability is its price relative to the max,
    and the "random" draw is a 60-bit md5 hash of the key mapped to
    [0,1) — identical bytes in Spark (conv/substr/md5) and DuckDB, so
    the sample is engine- and rerun-reproducible (the PPS analog of
    deterministic_sample).  The max is a scalar broadcast; the filter
    is map-only."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("mx"))
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
               16, 10).cast("double")
        / F.lit(float(2 ** 60))
    )
    return (
        o.crossJoin(F.broadcast(mx))
        .filter(u < F.col("o_totalprice") / F.col("mx"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
