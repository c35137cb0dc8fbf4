"""Round-7 fourth wave (banked for round 8): multi-source BFS,
l-diversity, byte-level PCM audio stats, content-defined chunking,
top-V vocabulary coverage, snapshot profile drift, and a
zone-map/data-skipping report.

All are extension surface (the reference implements none of this —
SURVEY.md §2.6); every query carries an exact-value DuckDB oracle and
follows the repo parity conventions (integer-first arithmetic, aliased
columns, single-division doubles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators import profiling as P
from ..operators.corpus import topv_coverage
from ..operators.graph import bfs_hops, bfs_sql
from ..operators.layout import zonemap_report
from ..operators.text import cdc_chunks, cdc_chunks_sql
from ..registry import register
from ..sources.catalog import load_table, spread_input


@register("graph_bfs_hops", oracle=bfs_sql("c_custkey % 50 = 0", 3))
def graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS over the customer↔supplier co-purchase graph
    (operators/graph.py bfs_hops): minimum hop distance from every
    50th customer, 3 label-propagation rounds (edge⋈dist join +
    dest-keyed MIN, edge list persisted once), reported as a hop
    histogram with unreached nodes at hop -1.  The reachability
    primitive under influence/contamination-spread audits; all-integer
    hops, unrolled-CTE oracle."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    nodes = cust.select(
        F.lit("c").alias("nt"), F.col("c_custkey").cast("long").alias("id")
    ).unionByName(supp.select(
        F.lit("s").alias("nt"), F.col("s_suppkey").cast("long").alias("id")))
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").cast("long").alias("c"),
                F.col("l_suppkey").cast("long").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.lit("c").alias("src_t"), F.col("c").alias("src"),
        F.lit("s").alias("dst_t"), F.col("s").alias("dst"),
    ).unionByName(pairs.select(
        F.lit("s").alias("src_t"), F.col("s").alias("src"),
        F.lit("c").alias("dst_t"), F.col("c").alias("dst"),
    ))
    seeds = cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.lit("c").alias("nt"), F.col("c_custkey").cast("long").alias("id"))
    return bfs_hops(nodes, edges, seeds, max_hops=3)


@register("privacy_l_diversity", oracle="""
WITH j AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority
  FROM customer JOIN orders ON o_custkey = c_custkey
), pv AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority, COUNT(*) AS vn
  FROM j GROUP BY 1, 2, 3
), pc AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(SUM(vn) AS BIGINT) AS class_size,
         CAST(COUNT(*) AS BIGINT) AS l_diversity,
         MAX(vn) AS dom
  FROM pv GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_size, l_diversity,
       CAST(dom AS DOUBLE) / class_size AS dominant_share,
       l_diversity < 3 AS at_risk
FROM pc
""")
def privacy_l_diversity(spark, sf_dir):
    """L-diversity audit (l=3) over the (nation, segment) quasi-id
    classes with order priority as the sensitive attribute — catches
    the homogeneity leak k-anonymity misses (operators/profiling.py
    l_diversity).  Customer-keyed join + two map-side-combined
    aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_nationkey", "c_mktsegment", "o_orderpriority")
    return P.l_diversity(
        j, ["c_nationkey", "c_mktsegment"], "o_orderpriority", l=3)


_PCM_N = 64

# fixture + int16 decode CTEs, shared with the wave-16 ZCR twin
_WAV_PCM_BASE = f"""
WITH src AS (
  SELECT doc_id FROM documents
), hx AS (
  SELECT doc_id,
         '52494646' || lpad(to_hex((36 + {_PCM_N} * 2) % 256), 2, '0')
           || lpad(to_hex(((36 + {_PCM_N} * 2) // 256) % 256), 2, '0')
           || '0000'
         || '57415645' || '666d7420' || '10000000' || '0100' || '0100'
         || '803e0000' || '007d0000' || '0200' || '1000' || '64617461'
         || lpad(to_hex(({_PCM_N} * 2) % 256), 2, '0')
           || lpad(to_hex((({_PCM_N} * 2) // 256) % 256), 2, '0') || '0000'
         || array_to_string(
              list_transform(range(0, {_PCM_N}), i ->
                lpad(to_hex(((doc_id * 31 + i * 17) % 65536 + 32768)
                            % 65536 % 256), 2, '0')
                || lpad(to_hex((((doc_id * 31 + i * 17) % 65536 + 32768)
                               % 65536) // 256), 2, '0')), '')
           AS h
  FROM src
), parsed AS (
  SELECT doc_id,
         (('0x' || substr(h, 81, 2))::BIGINT
          + ('0x' || substr(h, 83, 2))::BIGINT * 256
          + ('0x' || substr(h, 85, 2))::BIGINT * 65536
          + ('0x' || substr(h, 87, 2))::BIGINT * 16777216) // 2
           AS n_samples,
         h
  FROM hx
), s AS (
  SELECT doc_id, n_samples,
         list_transform(range(0, CAST(n_samples AS INT)), i ->
           (('0x' || substr(h, 89 + 4 * i, 2))::BIGINT
            + 256 * ('0x' || substr(h, 91 + 4 * i, 2))::BIGINT)
           - CASE WHEN ('0x' || substr(h, 89 + 4 * i, 2))::BIGINT
                       + 256 * ('0x' || substr(h, 91 + 4 * i, 2))::BIGINT
                       >= 32768 THEN 65536 ELSE 0 END) AS sm
  FROM parsed
)
"""

_WAV_PCM_ORACLE = _WAV_PCM_BASE + """
SELECT doc_id,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(list_sum(sm) AS BIGINT) AS sum_samples,
       CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT)
         AS sum_squares,
       CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT)
         AS peak_abs
FROM s
"""


@register("mm_wav_pcm_stats", oracle=_WAV_PCM_ORACLE)
def mm_wav_pcm_stats(spark, sf_dir):
    """Byte-level audio DSP with zero codec libraries: spec-conformant
    PCM16 WAV payloads (header + 64 deterministic samples, packed
    little-endian) decoded straight from the bytes — sample count from
    the declared data size, DC sum, energy (Σs²), and peak |amplitude|
    as exact BIGINTs (operators/multimodal.py synthesize_wav_pcm /
    pcm_stats).  Map-only; the oracle builds and parses the identical
    hex image."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_stats(built, "doc_id")


@register("text_cdc_chunks",
          oracle=cdc_chunks_sql("documents", "doc_id", "text"))
def text_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/text.py cdc_chunks):
    boundaries where a 4-char windowed polynomial hash is 0 mod 16, so
    chunk edges move with the content and early edits don't shift
    every later chunk — the dedup-robust complement of the
    fixed-stride ``corpus_chunk_overlap``.  Map-only higher-order
    functions; all-integer hash, byte-for-byte chunk text parity.
    Repartitioned before the per-char hash pass (one-split fixture ->
    one task; real corpora parallelize via file splits — the operator
    itself stays map-only)."""
    docs = spread_input(load_table(spark, sf_dir, "documents"))
    return cdc_chunks(docs, "doc_id", "text")


@register("corpus_vocab_coverage", oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), vocab AS (
  SELECT term, TRUE AS in_vocab
  FROM counts ORDER BY cnt DESC, term ASC LIMIT 500
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS coverage_rate
FROM tok LEFT JOIN vocab USING (term)
GROUP BY 1
""")
def corpus_vocab_coverage(spark, sf_dir):
    """Tokenizer-budget coverage per source against the top-500
    frequency-ranked vocabulary (operators/corpus.py topv_coverage) —
    the audit that shows which sources a truncated vocab starves.
    Term-keyed count + TakeOrdered top-V + broadcast join; single
    integer division for the rate."""
    return topv_coverage(
        load_table(spark, sf_dir, "documents"), "source", "text", v=500)


@register("profile_snapshot_drift", oracle="""
WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT * FROM documents WHERE doc_id % 3 != 1),
pa AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS len_sum,
         CAST(MIN(n_chars) AS BIGINT) AS len_min,
         CAST(MAX(n_chars) AS BIGINT) AS len_max,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
  FROM a
), pb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS len_sum,
         CAST(MIN(n_chars) AS BIGINT) AS len_min,
         CAST(MAX(n_chars) AS BIGINT) AS len_max,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
  FROM b
), la AS (
  SELECT u.* FROM pa, LATERAL (VALUES
    ('n_rows', pa.n_rows), ('len_sum', pa.len_sum),
    ('len_min', pa.len_min), ('len_max', pa.len_max),
    ('n_source', pa.n_source), ('n_lang', pa.n_lang))
    AS u(metric, snap_a)
), lb AS (
  SELECT u.* FROM pb, LATERAL (VALUES
    ('n_rows', pb.n_rows), ('len_sum', pb.len_sum),
    ('len_min', pb.len_min), ('len_max', pb.len_max),
    ('n_source', pb.n_source), ('n_lang', pb.n_lang))
    AS u(metric, snap_b)
)
SELECT la.metric, snap_a, snap_b, snap_b - snap_a AS delta
FROM la JOIN lb ON la.metric = lb.metric
ORDER BY la.metric
""")
def profile_snapshot_drift(spark, sf_dir):
    """Column-profile drift between two corpus snapshots (even doc_ids
    vs non-(3k+1) doc_ids — overlapping, different sizes): row count,
    length sum/min/max, and categorical cardinalities reported long so
    a monitor alerts on any metric (operators/profiling.py
    snapshot_drift).  Each side is ONE exact 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 != 1)
    return P.snapshot_drift(a, b, "n_chars", ["source", "lang"])


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
    return zonemap_report(load_table(spark, sf_dir, "documents"), "doc_id", "n_chars",
                          bucket_size=64, lo=450, hi=700)
