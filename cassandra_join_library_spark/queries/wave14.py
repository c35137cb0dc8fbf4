"""Round-8 sixth wave: audience segment overlap, quality-classifier
calibration, BPE fertility by language, ABC/Pareto revenue
classification, and a dedup survivor-bias audit.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as T
from ..operators.bpe import bpe_encode_counts
from ..operators.stats import _RDIV
from ..registry import register
from ..sources.catalog import load_events, load_table
from ._bpe_sql import bpe_fertility_sql
from .dedup import _CLUSTERS_ORACLE
from .wave9 import _rdiv_sql


@register("events_segment_overlap", oracle=f"""
WITH seg AS MATERIALIZED (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
), sizes AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM seg GROUP BY 1
), both_t AS (
  SELECT a.t AS type_a, b.t AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM seg a JOIN seg b ON b.u = a.u AND b.t > a.t
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       CAST({_rdiv_sql("1000000 * n_both",
                       "sa.n + sb.n - n_both")} AS BIGINT)
         AS jaccard_ppm
FROM both_t
JOIN sizes sa ON sa.t = type_a
JOIN sizes sb ON sb.t = type_b
""")
def events_segment_overlap(spark, sf_dir):
    """Audience overlap matrix: for every pair of event types, the
    exact user-set intersection and Jaccard in rounded ppm — the
    segment-overlap readout behind audience planning.  Posting-list
    self-join on user (each user contributes |types-seen|² pairs,
    bounded by the type-domain, never corpus²); the per-type sizes
    broadcast."""
    seg = (load_events(spark, sf_dir)
           .select(F.col("event_type").alias("t"),
                   F.col("user_id").alias("u")).distinct())
    sizes = seg.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    both = (
        seg.select(F.col("t").alias("type_a"), "u")
        .join(seg.select(F.col("t").alias("type_b"), "u"), "u")
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    out = (
        both.join(F.broadcast(sizes.select(F.col("t").alias("type_a"),
                                           F.col("n").alias("n_a"))),
                  "type_a")
        .join(F.broadcast(sizes.select(F.col("t").alias("type_b"),
                                       F.col("n").alias("n_b"))),
              "type_b")
    )
    return out.select(
        "type_a", "type_b", "n_a", "n_b", "n_both",
        F.expr(_RDIV.format(a="1000000 * n_both",
                            b="n_a + n_b - n_both"))
        .cast("bigint").alias("jaccard_ppm"),
    )


@register("corpus_quality_calibration", oracle="""
WITH x AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', ''))
              AS BIGINT) AS alpha_chars,
         text
  FROM documents
), f AS (
  SELECT doc_id, n_tokens, w, text,
         round(alpha_chars * 1.0 / n_tokens, 6) AS avg_token_len,
         round(len(list_distinct(w)) * 1.0 / n_tokens, 6)
           AS uniq_ratio,
         round(len(list_filter(w, t -> list_contains(
                 ['the','a','and','of','to','is'], t))) * 1.0
               / n_tokens, 6) AS stopword_ratio
  FROM x
), s AS (
  SELECT doc_id, w, text, n_tokens,
         CAST(round(
           CAST(-3.0 AS DECIMAL(12,6))
           + CAST(0.02 AS DECIMAL(12,6)) * CAST(n_tokens AS DECIMAL(12,6))
           + CAST(0.25 AS DECIMAL(12,6)) * CAST(avg_token_len AS DECIMAL(12,6))
           + CAST(2.0 AS DECIMAL(12,6)) * CAST(uniq_ratio AS DECIMAL(12,6))
           + CAST(-3.0 AS DECIMAL(12,6)) * CAST(stopword_ratio AS DECIMAL(12,6)),
         6) AS DOUBLE) AS score
  FROM f
), g AS (
  SELECT doc_id,
         (CAST(len(w) AS BIGINT) >= 50
          AND CAST(len(w) AS BIGINT) <= 100000
          AND round(list_sum(list_transform(w, t -> len(t))) * 1.0
                    / len(w), 6) >= 3.0
          AND round(list_sum(list_transform(w, t -> len(t))) * 1.0
                    / len(w), 6) <= 10.0
          AND round(len(list_filter(w, t ->
                regexp_matches(t, '[A-Za-z]'))) * 1.0 / len(w), 6)
              >= 0.8
          AND CAST(len(list_intersect(list_distinct(w),
                ['the','a','and','of','to','is'])) AS BIGINT) >= 2
          AND round(list_max(list_transform(list_distinct(w),
                d -> len(list_filter(w, t -> t = d)))) * 1.0
                / len(w), 6) <= 0.2
          AND round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                * 1.0 / len(w), 6) <= 0.1) AS passes
  FROM s
), joined AS (
  SELECT CAST(floor(s.score * 2.0) AS BIGINT) AS score_bucket,
         CASE WHEN g.passes THEN 1 ELSE 0 END AS p
  FROM s JOIN g ON g.doc_id = s.doc_id
)
SELECT score_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p) AS BIGINT) AS n_gopher_pass,
       CAST(((1000000 * SUM(p)) // COUNT(*))
            + (CASE WHEN 2 * ((1000000 * SUM(p)) % COUNT(*))
                    >= COUNT(*) THEN 1 ELSE 0 END) AS BIGINT)
         AS pass_ppm
FROM joined GROUP BY 1
""")
def corpus_quality_calibration(spark, sf_dir):
    """Classifier-vs-rules calibration table: the linear quality
    model's score (half-point buckets) against the Gopher rule
    verdict — per bucket, document count and rule-pass rate in
    rounded ppm.  The readout that says whether a learned filter and
    a heuristic filter agree before swapping one for the other.
    Composition of two map-only scorers joined on doc id; the
    histogram is score-domain-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    scored = T.model_score(docs, "doc_id", "text").select(
        "doc_id", "score")
    rules = T.gopher_rules(docs, "doc_id", "text").select(
        "doc_id", F.col("passes_gopher").alias("passes"))
    joined = scored.join(rules, "doc_id").select(
        F.floor(F.col("score") * 2.0).cast("bigint")
        .alias("score_bucket"),
        F.when(F.col("passes"), 1).otherwise(0).alias("p"),
    )
    return joined.groupBy("score_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p").cast("bigint").alias("n_gopher_pass"),
        F.expr(_RDIV.format(a="1000000 * SUM(p)", b="COUNT(*)"))
        .cast("bigint").alias("pass_ppm"),
    )


@register("corpus_bpe_fertility", oracle=bpe_fertility_sql(
    n_merges=8, top_words=2000))
def corpus_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility by language: BPE tokens per word under the
    corpus-trained 8-merge symbol table (operators/bpe.py), rounded
    ppm ratio per language — the efficiency number that decides
    whether a tokenizer needs more merges for a given language mix.
    Encoding is the broadcast vocab join (the merge loop runs once on
    the <=2000-row vocab, never per document); the oracle replays the
    whole training unrolled."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = bpe_encode_counts(
        spark, docs, "doc_id", "text", n_merges=8, top_words=2000)
    out = (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("class"))
        .agg(F.sum("n_words").cast("bigint").alias("n_words"),
             F.sum("n_bpe_tokens").cast("bigint")
             .alias("n_bpe_tokens"))
    )
    return out.select(
        "class", "n_words", "n_bpe_tokens",
        F.expr(_RDIV.format(a="1000000 * n_bpe_tokens", b="n_words"))
        .cast("bigint").alias("fertility_ppm"),
    )


_EPRICE_CENTS = ("CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) "
                 "* 100 AS BIGINT)")


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


_SURVIVOR_BIAS_ORACLE = (
    _CLUSTERS_ORACLE[:_CLUSTERS_ORACLE.index("SELECT a AS doc_id,")]
    + f""", cc AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id
  FROM reach GROUP BY a
), status AS (
  SELECT d.doc_id, d.n_chars,
         CASE WHEN cc.cluster_id IS NOT NULL
               AND cc.cluster_id <> d.doc_id
              THEN 'dropped' ELSE 'kept' END AS status
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST({_rdiv_sql("SUM(n_chars)", "COUNT(*)")} AS BIGINT)
         AS mean_chars
FROM status GROUP BY 1
"""
)


@register("dedup_survivor_bias_audit", oracle=_SURVIVOR_BIAS_ORACLE)
def dedup_survivor_bias_audit(spark, sf_dir):
    """Dedup bias audit: does canonical-min dedup (keep the smallest
    doc id per near-dup cluster) skew the surviving corpus?  Kept vs
    dropped document counts, total and rounded-mean lengths — the
    before/merge sanity check a curation pipeline runs after any
    dedup pass.  Reuses the exact-Jaccard pairs -> pointer-jumping
    components machinery; the audit itself is one bounded aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs_exact(
        docs, "doc_id", "text", n=5, threshold=0.5)
    cc = D.duplicate_clusters(pairs).withColumnRenamed(
        "doc_id", "cid").withColumnRenamed("cluster_id", "cl")
    st = (
        docs.select("doc_id", "n_chars")
        .join(cc, docs.doc_id == cc.cid, "left")
        .select(
            "n_chars",
            F.when(F.col("cl").isNotNull()
                   & (F.col("cl") != F.col("doc_id")), "dropped")
            .otherwise("kept").alias("status"),
        )
    )
    return st.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.expr(_RDIV.format(a="SUM(n_chars)", b="COUNT(*)"))
        .cast("bigint").alias("mean_chars"),
    )
