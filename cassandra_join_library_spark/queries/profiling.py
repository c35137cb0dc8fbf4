"""Data-quality profiling queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import profiling as P
from ..registry import register
from ..sources.catalog import load_table


@register("profile_orders", oracle="""
SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""")
def profile_orders(spark, sf_dir):
    """Single-pass per-column profile (nulls/distinct/min/max), string
    and integer columns (float min/max string formats differ across
    engines, so doubles are profiled but not oracle-compared)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return P.profile_table(o)


@register("text_pii_flags", oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{7,}\\d')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn_like,
       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{7,}\\d')) > 0
        OR len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) > 0) AS has_pii
FROM documents
""")
def text_pii_flags(spark, sf_dir):
    """PII pattern counts per document (email/phone/SSN-shaped) — the
    cheap first-pass redaction filter."""
    return P.pii_flags(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_repetition", oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tw AS (
  SELECT doc_id, MAX(c) AS top_word_count, SUM(c) AS n_tokens
  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
  GROUP BY doc_id
), bg0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                               i -> string_split(text, ' ')[i] || ' ' ||
                                    string_split(text, ' ')[i+1])) AS bg
  FROM documents
), bgs AS (
  SELECT doc_id, SUM(c) AS n_bigrams,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bigrams
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg0 GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT tw.doc_id,
       CAST(tw.n_tokens AS BIGINT) AS n_tokens,
       round(tw.top_word_count * 1.0 / tw.n_tokens, 6) AS top_word_ratio,
       round(bgs.dup_bigrams * 1.0 / bgs.n_bigrams, 6) AS dup_bigram_ratio
FROM tw LEFT JOIN bgs ON tw.doc_id = bgs.doc_id
""")
def text_repetition(spark, sf_dir):
    """Gopher-style repetition scores (top-word ratio, duplicate-bigram
    ratio) — degenerate-text filters."""
    return P.repetition_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("privacy_k_anonymity", oracle="""
WITH c AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2
), t AS (SELECT COUNT(*) AS total FROM customer)
SELECT c_nationkey, c_mktsegment, class_size,
       class_size < 5 AS at_risk,
       CAST(class_size AS DOUBLE) / t.total AS row_share
FROM c, t
""")
def privacy_k_anonymity(spark, sf_dir):
    """K-anonymity release audit (k=5) over the (nation, segment)
    quasi-identifier pair: equivalence-class sizes, at-risk flags,
    and row shares — operators/profiling.py k_anonymity."""
    return P.k_anonymity(
        load_table(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=5)


@register("profile_key_skew", oracle="""
WITH c AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS rows
  FROM orders GROUP BY 1
), s AS (
  SELECT SUM(rows) AS total, COUNT(*) AS nkeys FROM c
)
SELECT o_custkey, rows,
       CAST(rows AS DOUBLE) / s.total AS row_share,
       CAST(rows AS DOUBLE) * s.nkeys / s.total AS skew_ratio
FROM c, s
ORDER BY rows DESC, o_custkey ASC
LIMIT 10
""")
def profile_key_skew(spark, sf_dir):
    """Join-key skew report over orders.o_custkey: the 10 heaviest
    customers with row share and ratio-to-mean-key-weight — the
    diagnostic that decides whether a join needs salting
    (operators/profiling.py key_skew_report)."""
    return P.key_skew_report(load_table(spark, sf_dir, "orders"), ["o_custkey"],
                             top=10)


@register("profile_fk_integrity", oracle="""
SELECT u.*, orphan_rows = 0 AND null_keys = 0 AS intact FROM (
SELECT 'lineitem.orderkey->orders' AS relationship,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IS NULL) AS null_keys
UNION ALL
SELECT 'orders.custkey->customer',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
UNION ALL
SELECT 'customer.nationkey->nation',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE c.c_nationkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_nationkey IS NULL)
) u
""")
def profile_fk_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema's three FK
    edges: orphaned child keys (anti join on key-only projections) and
    NULL keys per relationship — the load-validation gate before any
    join-based pipeline trusts the data."""
    out = P.fk_integrity_audit([
        ("lineitem.orderkey->orders",
         load_table(spark, sf_dir, "lineitem"), "l_orderkey",
         load_table(spark, sf_dir, "orders"), "o_orderkey"),
        ("orders.custkey->customer",
         load_table(spark, sf_dir, "orders"), "o_custkey",
         load_table(spark, sf_dir, "customer"), "c_custkey"),
        ("customer.nationkey->nation",
         load_table(spark, sf_dir, "customer"), "c_nationkey",
         load_table(spark, sf_dir, "nation"), "n_nationkey"),
    ])
    return out
