"""Round-7 second wave (banked for the round-8 window): leakage-safe
dataset splitting, behavioral Markov transitions, embedding
standardization, readability scoring, and RFM quintile scoring.

All extension surface (SURVEY.md §2.6); every query carries an
exact-value DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..registry import register
from ..sources.catalog import load_events, load_table


@register("corpus_leakage_safe_split", oracle="""
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sim AS (
  SELECT doc_a, doc_b FROM pairs
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM sim
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM sim
), reach AS (
  SELECT src AS a, src AS b FROM edges
  UNION
  SELECT r.a, e.dst AS b
  FROM reach r JOIN edges e ON r.b = e.src
), clusters AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
), reps AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT doc_id, CAST(cluster_rep AS BIGINT) AS cluster_rep,
       CASE WHEN ('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 8))
                 ::BIGINT % 100 < 80 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 8))
                 ::BIGINT % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM reps
""")
def corpus_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS (not
    documents) are the unit of assignment, so two near-dups can never
    straddle the train/eval boundary — the contamination a plain
    per-doc hash split silently permits.  Exact-Jaccard pairs →
    connected components (operators/dedup.py pointer jumping; the
    oracle replays them with a recursive CTE) → every doc keyed by its
    component representative → md5-bucket 80/10/10.  At 100 TB the
    pair step swaps to the MinHash-LSH generator; the split logic is
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs_exact(docs, "doc_id", "text",
                                  n=5, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    reps = (
        docs.select("doc_id")
        .join(clusters.withColumnRenamed("cluster_id", "cluster_rep"),
              "doc_id", "left")
        .select("doc_id",
                F.coalesce("cluster_rep", "doc_id").alias("cluster_rep"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_rep").cast("string")), 1, 8),
               16, 10).cast("bigint") % 100
    )
    return reps.select(
        "doc_id", F.col("cluster_rep").cast("bigint").alias("cluster_rep"),
        F.when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").alias("split"),
    )


@register("events_markov_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), t AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, event_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
         AS p_transition
FROM t
""")
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the per-user event
    sequence (lag window on the user key) — the behavioral model
    under next-action prediction and anomaly scoring.  Output is
    #event_types² rows; the probability is one integer division, and
    the normalizing window runs over the bounded type key."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type",
                F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
    )
    t = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    wn = Window.partitionBy("prev_type")
    return t.select(
        "prev_type", "event_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        (F.col("n_transitions").cast("double")
         / F.sum("n_transitions").over(wn).cast("double"))
        .alias("p_transition"),
    )


@register("embedding_standardize", oracle="""
WITH x AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS xi
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  WHERE embedding IS NOT NULL
), s AS (
  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xi) AS BIGINT) AS sx,
         CAST(SUM(xi * xi) AS BIGINT) AS sxx
  FROM x GROUP BY pos
)
SELECT x.vec_id, CAST(x.pos AS BIGINT) AS pos,
       round((CAST(x.xi AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
             / sqrt(CAST(s.sxx AS DOUBLE) / s.n
                    - (CAST(s.sx AS DOUBLE) / s.n)
                      * (CAST(s.sx AS DOUBLE) / s.n)), 6) AS z
FROM x JOIN s ON s.pos = x.pos
""")
def embedding_standardize(spark, sf_dir):
    """Per-dimension z-score standardization (whitening prep): pin
    coordinates to integer micro-units, aggregate exact integer
    (sum, sum-of-squares) per dimension — 64 groups, constant-size —
    then normalize map-side with the identical double expression tree
    on both engines (IEEE ops on exact integer inputs are
    deterministic).  Stats broadcast back; the corpus never shuffles
    on data keys."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())
    x = emb.select(
        "vec_id",
        F.posexplode(F.expr(
            "transform(embedding, v -> "
            "cast(floor(cast(v as double) * 1000000 + 0.5) as bigint))"))
        .alias("pos", "xi"),
    )
    s = x.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    z = F.round(
        (F.col("xi").cast("double") - mu)
        / F.sqrt(F.col("sxx").cast("double") / F.col("n") - mu * mu), 6)
    return (
        x.join(F.broadcast(s), "pos")
        .select("vec_id", F.col("pos").cast("bigint").alias("pos"),
                z.alias("z"))
    )


@register("text_readability_score", oracle="""
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS sentences,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS words,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS vgroups
  FROM documents
)
SELECT doc_id, CAST(sentences AS BIGINT) AS sentences,
       CAST(words AS BIGINT) AS words,
       CAST(vgroups AS BIGINT) AS vgroups,
       CAST(CASE WHEN sentences > 0 AND words > 0
                 THEN 206835 - (1015 * words) // sentences
                             - (84600 * vgroups) // words
            END AS BIGINT) AS flesch_milli
FROM m
""")
def text_readability_score(spark, sf_dir):
    """Flesch reading-ease scoring in exact milli-units (vowel-group
    runs proxy syllables — the standard codec-free approximation):
    sentence/word/syllable counts are integers, the score is two
    integer divisions, so both engines agree bit-for-bit with no
    float formula drift.  Map-only; the score feeds readability-band
    mixture planning next to the Gopher/C4 filters."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, '[.!?]+', -1), x -> trim(x) != ''))")
        .cast("bigint").alias("sentences"),
        F.expr("size(filter(split(text, '\\\\s+', -1), x -> x != ''))")
        .cast("bigint").alias("words"),
        F.expr("regexp_count(lower(text), '[aeiou]+')")
        .cast("bigint").alias("vgroups"),
    )
    return counted.select(
        "doc_id", "sentences", "words", "vgroups",
        F.when(
            (F.col("sentences") > 0) & (F.col("words") > 0),
            F.lit(206835)
            - F.expr("(1015 * words) div sentences")
            - F.expr("(84600 * vgroups) div words"),
        ).cast("bigint").alias("flesch_milli"),
    )


@register("events_rfm_scores", oracle="""
WITH rfm AS (
  SELECT user_id,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, last_epoch, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY last_epoch, user_id) AS BIGINT) AS r_q,
       CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_q,
       CAST(ntile(5) OVER (ORDER BY monetary NULLS LAST, user_id)
            AS BIGINT) AS m_q
FROM rfm
""")
def events_rfm_scores(spark, sf_dir):
    """RFM (recency / frequency / monetary) quintile scoring per user
    — the classic segmentation feature triple.  One keyed aggregate,
    then three ntile windows with a user_id tiebreak pinning the
    bucket boundaries deterministically.  The windows are global by
    definition (quintiles of the whole population): at 100 TB swap
    ntile for the two-pass percentile-threshold join; here the user
    aggregate is population-sized, already reduced."""
    ev = load_events(spark, sf_dir)
    from ..functions.scalars import dsum

    rfm = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.unix_timestamp(F.max("ts")).cast("bigint").alias("last_epoch"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dsum("value", "monetary"),
        )
    )
    return rfm.select(
        "user_id", "last_epoch", "frequency", "monetary",
        F.ntile(5).over(Window.orderBy("last_epoch", "user_id"))
        .cast("bigint").alias("r_q"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        .cast("bigint").alias("f_q"),
        # NULLS LAST pinned on BOTH sides: a user whose every event has
        # a NULL value yields monetary = NULL, which Spark sorts first
        # ascending but DuckDB sorts last — unpinned, one such user
        # would shift every quintile boundary (review finding, r07)
        F.ntile(5).over(
            Window.orderBy(F.asc_nulls_last("monetary"), "user_id"))
        .cast("bigint").alias("m_q"),
    )
