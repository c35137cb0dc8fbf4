"""Additional relational/text breadth: string similarity, array
explode, cube/grouping-sets, regex extraction, n-gram frequencies,
null handling, sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import dsum
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs


@register("string_similarity", oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey % 4 = 0 AND b.p_partkey % 4 = 0
  AND levenshtein(a.p_name, b.p_name) <= 2
""")
def string_similarity(spark, sf_dir):
    """Edit-distance pair matching (fuzzy key dedup shape) on part
    names — string-dedup + PassJoin segment blocking + exact verify
    (operators/edjoin.py), never the cartesian the oracle spells out.
    Part names (natural words) rather than customer names: fixed-format
    serial strings share every blocking key, so fuzzy dedup on them is
    degenerate by construction; varied text is the shape the blocking
    must (and does) carry."""
    from ..operators.edjoin import edit_distance_pairs

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 4 == 0)
    return edit_distance_pairs(p, "p_partkey", "p_name", max_dist=2)


@register("explode_tokens", oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 10
""")
def explode_tokens(spark, sf_dir):
    """Array explode / unnest (token stream shape)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 10)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


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


@register("ngram_topk", oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM words
)
SELECT bigram, COUNT(*) AS freq
FROM grams
GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 20
""")
def ngram_topk(spark, sf_dir):
    """Corpus-level bigram frequency top-k (vocabulary analysis)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.split("text", " ").alias("w"))
    # short-doc guard (sequence(0, -1) counts down; w[i+1] OOB crashes
    # under ANSI) — mirrors shingles() in operators/dedup.py
    bigram_expr = F.when(
        F.size(F.col("w")) >= 2,
        F.expr("transform(sequence(0, size(w) - 2), "
               "i -> concat(w[i], ' ', w[i+1]))"),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = w.select(F.explode(bigram_expr).alias("bigram"))
    return (
        bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(20)
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


@register("deterministic_sample", oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey % 20 = 3
""")
def deterministic_sample(spark, sf_dir):
    """Deterministic systematic sampling (hash/mod) — at 100 TB,
    mod-sampling on a key is reproducible across runs and engines,
    unlike Bernoulli TABLESAMPLE."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 20 == 3)
        .select("o_orderkey", "o_custkey", "o_totalprice")
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

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.unix_timestamp("l_shipdate").cast("bigint").alias("ship_epoch"),
    )
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

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.unix_timestamp("l_shipdate").cast("bigint").alias("ship_epoch"),
    )
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
