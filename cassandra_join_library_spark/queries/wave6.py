"""Round-7 third wave (banked): overlapping RAG-style chunking,
within-document line dedup, and linear multi-touch attribution.

Extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
throughout, repo parity conventions (integer-first, aliased columns).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_events, load_table


@register("corpus_chunk_overlap", oracle="""
WITH p AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
), s AS (
  SELECT doc_id, text, n,
         unnest(generate_series(0, n - 1, 100)) AS chunk_start
  FROM p
)
SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
       substr(text, chunk_start + 1, 150) AS chunk_text,
       CAST(least(150, n - chunk_start) AS BIGINT) AS chunk_len
FROM s
""")
def corpus_chunk_overlap(spark, sf_dir):
    """Overlapping chunking for retrieval indexes: 150-char windows at
    stride 100, so consecutive chunks share a 50-char overlap and no
    boundary sentence is lost to a hard cut (the standard RAG chunker
    shape, vs the non-overlapping ``corpus_chunks``).  sequence +
    explode — map-only row expansion, no shuffle; at 100 TB chunk
    emission is embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    s = docs.select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n"),
        F.explode(
            F.sequence(F.lit(0),
                       (F.length("text") - 1).cast("bigint"),
                       F.lit(100))).alias("chunk_start"),
    )
    return s.select(
        "doc_id", F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.expr("substring(text, chunk_start + 1, 150)").alias("chunk_text"),
        F.least(F.lit(150), F.col("n") - F.col("chunk_start"))
        .cast("bigint").alias("chunk_len"),
    )


@register("text_line_dedup_within_doc", oracle="""
WITH l AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
), d AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, i) -> list_position(lines, x) = i)
           AS kept
  FROM l
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, chr(10)) AS deduped_text
FROM d
""")
def text_line_dedup_within_doc(spark, sf_dir):
    """Within-document line dedup (first occurrence wins, order
    preserved) — strips boilerplate navigation/footer lines repeated
    inside a page, the intra-doc complement of the corpus-level C4
    line filter.  Pure higher-order array functions: first-occurrence
    via array_position == own index (Spark lambdas index from 0,
    DuckDB from 1 — both sides spell their own convention), map-only,
    re-assembled text compared byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n", -1).alias("lines"),
    ).select(
        "doc_id", "lines",
        F.expr("filter(lines, (x, i) -> array_position(lines, x) = i + 1)")
        .alias("kept"),
    )
    return d.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.array_join("kept", "\n").alias("deduped_text"),
    )


@register("events_linear_attribution", oracle="""
WITH p AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL
), c AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT p.event_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_touch_clicks,
       CASE WHEN COUNT(c.event_id) > 0
            THEN CAST(1 AS DOUBLE) / COUNT(c.event_id) END
         AS credit_per_click
FROM p
LEFT JOIN c ON c.user_id = p.user_id
           AND c.ts <= p.ts
           AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.event_id, p.user_id, p.ts
""")
def events_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: every click within 30 minutes
    before a purchase shares the conversion credit equally (1/n per
    touch).  User-keyed equi-join with a residual time-range predicate
    — shuffles on user_id, never a cartesian; the per-purchase count
    is one aggregation.  The credit is a single integer division, so
    the doubles agree across engines."""
    ev = load_events(spark, sf_dir)
    base = ev.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    p = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"))
    c = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left",
    )
    return (
        joined.groupBy("event_id", "user_id", "p_ts")
        .agg(F.count("c_id").alias("n_touch_clicks"))
        .select(
            "event_id", "user_id",
            F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
            F.col("n_touch_clicks").cast("bigint").alias("n_touch_clicks"),
            F.when(F.col("n_touch_clicks") > 0,
                   F.lit(1.0).cast("double") / F.col("n_touch_clicks"))
            .alias("credit_per_click"),
        )
    )
