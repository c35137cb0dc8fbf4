"""Round-11 wave: cross-snapshot incremental dedup and
broadcast-weights quality-model inference (r10 verdict ask #5) — the
two remaining 100 TB-pipeline production shapes:

- a new crawl is deduplicated against the PERSISTED fingerprint store
  of the prior corpus (never corpus-vs-itself — the store is a set,
  so the quadratic pair space never exists);
- a trained quality model scores every document map-only, its weights
  travelling with the plan as broadcast literals (zero per-row
  Python, zero shuffles).

Extension surface (SURVEY.md §2.6); exact-value DuckDB oracles under
the repo parity conventions (integer ppm arithmetic, no float
boundaries).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.text import logistic_quality_score, QUALITY_WEIGHTS
from ..registry import register
from ..sources.catalog import load_table


#: shared shingle CTEs: 5-gram word shingles, prior corpus = even
#: doc_ids (the previous snapshot), new crawl = odd doc_ids
_SNAPSHOT_CTE = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), store AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
), news AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1
), tot AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM news GROUP BY doc_id
), seen AS (
  SELECT n.doc_id, COUNT(*) AS n_seen
  FROM news n JOIN store s USING (shingle) GROUP BY n.doc_id
), contain AS (
  SELECT t.doc_id,
         CAST(t.n_shingles AS BIGINT) AS n_shingles,
         CAST(COALESCE(se.n_seen, 0) AS BIGINT) AS n_seen,
         CAST(COALESCE(se.n_seen, 0) * 1000000 // t.n_shingles
              AS BIGINT) AS containment_ppm
  FROM tot t LEFT JOIN seen se USING (doc_id)
)"""


@register("dedup_cross_snapshot", oracle=f"""
WITH {_SNAPSHOT_CTE}
SELECT doc_id, n_shingles, n_seen, containment_ppm,
       containment_ppm >= 800000 AS is_dup
FROM contain
""")
def dedup_cross_snapshot(spark, sf_dir):
    """Cross-snapshot incremental dedup: every NEW-crawl document
    (odd doc_id) scored by the containment of its 5-gram shingle set
    in the PRIOR corpus's (even doc_id) fingerprint store, dropped at
    containment >= 0.8.

    The production shape of ``stream_incremental_dedup`` at rest
    (operators/dedup.py cross_snapshot_containment): the store is
    built ONCE per snapshot (distinct shingles, bucketed by shingle
    on disk at scale) and each new crawl pays one linear join against
    it — new-crawl shingles shuffle to the store's buckets, nothing
    corpus-vs-corpus ever forms.  Integer ppm containment: exact,
    no float threshold boundary."""
    docs = load_table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = (D.shingles(prior, "doc_id", "text", 5)
             .select("shingle").distinct())
    out = D.cross_snapshot_containment(new, store, "doc_id", "text", n=5)
    return out.withColumn("is_dup", F.col("containment_ppm") >= 800000)


@register("dedup_cross_snapshot_funnel", oracle=f"""
WITH {_SNAPSHOT_CTE}
SELECT CAST((SELECT COUNT(*) FROM store) AS BIGINT) AS n_store,
       CAST((SELECT COUNT(*) FROM contain) AS BIGINT) AS n_new_docs,
       CAST((SELECT COUNT(*) FROM contain
             WHERE containment_ppm >= 800000) AS BIGINT) AS n_dropped
""")
def dedup_cross_snapshot_funnel(spark, sf_dir):
    """One-row audit of the cross-snapshot funnel: store size, new
    docs scored, new docs dropped.  The number that decides whether
    the next snapshot's storage bill shrinks — and the regression
    canary for the store build (a store that silently loses shingles
    shows up here as n_dropped collapsing)."""
    docs = load_table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = (D.shingles(prior, "doc_id", "text", 5)
             .select("shingle").distinct()
             .localCheckpoint(eager=True))  # two consumers below
    contain = D.cross_snapshot_containment(new, store, "doc_id", "text",
                                           n=5)
    n_store = store.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_store"))
    rollup = contain.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_docs"),
        # coalesce: SUM over an empty relation is NULL, the oracle's
        # COUNT(*) WHERE is 0 — the degenerate corpus must still match
        F.coalesce(
            F.sum((F.col("containment_ppm") >= 800000).cast("bigint")),
            F.lit(0)).cast("bigint").alias("n_dropped"))
    return (n_store.crossJoin(F.broadcast(rollup))
            .select("n_store", "n_new_docs", "n_dropped"))


_W = QUALITY_WEIGHTS  # the "trained" model shipped with the library


@register("corpus_quality_logreg", oracle=f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('a','an','the','and','of','to','in','is','on',
                        'for','with','that'))) AS n_stop,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
           AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digit
  FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT doc_id,
         CAST({_W['bias']}
              + {_W['per_token']} * LEAST(n_tokens, {_W['token_cap']})
              + ({_W['stop_w']} * (n_stop * 1000000 // n_tokens)) // 1000
              - ({_W['punct_w']} * (n_punct * 1000000
                                    // GREATEST(n_chars, 1))) // 1000
              - ({_W['digit_w']} * (n_digit * 1000000
                                    // GREATEST(n_chars, 1))) // 1000
           AS BIGINT) AS z_micro
  FROM feats
)
SELECT doc_id, z_micro, z_micro > 0 AS keep FROM scored
""")
def corpus_quality_logreg(spark, sf_dir):
    """Broadcast-weights quality-model inference: a logistic scorer's
    linear term over cheap text features, evaluated map-only with the
    weights as plan literals (operators/text.py
    logistic_quality_score).  ``keep = z > 0`` is exactly
    ``sigmoid(z) > 0.5`` — the sigmoid is monotone, so the decision
    is graded on the exact integer micro-score and no float ever
    crosses an engine boundary."""
    return logistic_quality_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")
