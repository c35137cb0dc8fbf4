"""Corpus-preparation queries — the LLM-training-data
pipeline surface beyond the reference: term weighting, splitting,
quality filtering, decontamination, composition stats, chunking,
clustering.  All but k-means carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import corpus as C
from ..operators.stats import staged_ppm
from ..registry import register
from ..sources.catalog import load_table


@register("tfidf_top_terms", oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents
), sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), r AS (
  SELECT *, CAST(row_number() OVER
           (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
  FROM sc
)
SELECT doc_id, term, tf, df, tfidf, rk FROM r WHERE rk <= 5
""")
def tfidf_top_terms(spark, sf_dir):
    """Top-5 TF-IDF terms per document (smoothed idf, rounded-then-
    ranked so ordering is engine-portable)."""
    return C.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=5)


@register("corpus_split", oracle="""
WITH h AS (
  SELECT doc_id, lang,
         (((((CAST(doc_id AS BIGINT) % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 2147483647
          + CAST(ascii(lang) AS BIGINT) * 7919) % 2147483647 AS hv
  FROM documents
)
SELECT doc_id, lang, hv % 1000 AS bucket,
       CASE WHEN hv % 1000 < 100 THEN 'test' ELSE 'train' END AS split
FROM h
""")
def corpus_split(spark, sf_dir):
    """Deterministic stratified train/test split (hash-mod buckets —
    reproducible across engines, runs, and appends; map-only)."""
    return C.stratified_split(
        load_table(spark, sf_dir, "documents"), "doc_id", "lang", test_per_mille=100
    )


@register("corpus_quality_quantile", oracle="""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), r AS (
  SELECT *, percent_rank() OVER
        (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS pr
  FROM t
)
SELECT doc_id, lang, n_tokens, round(pr, 6) AS pr
FROM r WHERE pr <= 0.5
""")
def corpus_quality_quantile(spark, sf_dir):
    """Keep the longest half of each language (percent_rank over a
    total order — deterministic per-group quantile filter)."""
    return C.quality_quantile_filter(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", "lang", keep_frac=0.5
    )


@register("corpus_contamination", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM w WHERE len(w) >= 3
), b AS (
  SELECT DISTINCT shingle, doc_id AS bdoc FROM g WHERE doc_id % 20 = 0
), hits AS (
  SELECT g.doc_id, CAST(count(DISTINCT g.shingle) AS BIGINT) AS n_overlap
  FROM g JOIN b ON g.shingle = b.shingle AND g.doc_id <> b.bdoc
  GROUP BY 1
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM g GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles, 6) AS overlap_ratio,
       coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles >= 0.5 AS is_contaminated
FROM tot t LEFT JOIN hits h USING (doc_id)
""")
def corpus_contamination(spark, sf_dir):
    """Benchmark decontamination: 3-gram overlap of every document
    against a deterministic benchmark subset (doc_id % 20 = 0),
    inverted-index join — never n²."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return C.contamination_overlap(docs, "doc_id", "text", bench, n=3)


@register("corpus_contamination_capped", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM w WHERE len(w) >= 3
), b0 AS (
  SELECT DISTINCT shingle, doc_id AS bdoc FROM g WHERE doc_id % 20 = 0
), b AS (
  SELECT shingle, bdoc FROM (
    SELECT shingle, bdoc, COUNT(*) OVER (PARTITION BY shingle) AS bdf
    FROM b0
  ) WHERE bdf <= 1
), hits AS (
  SELECT g.doc_id, CAST(count(DISTINCT g.shingle) AS BIGINT) AS n_overlap
  FROM g JOIN b ON g.shingle = b.shingle AND g.doc_id <> b.bdoc
  GROUP BY 1
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM g GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles, 6) AS overlap_ratio,
       coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles >= 0.5 AS is_contaminated
FROM tot t LEFT JOIN hits h USING (doc_id)
""")
def corpus_contamination_capped(spark, sf_dir):
    """Decontamination WITH the bench-side stop-shingle cap engaged
    (``max_bench_doc_freq=1``): shingles shared by multiple benchmark
    docs are non-discriminative and, at 100 TB, multiply into every
    matching corpus doc — the cap bounds the inverted-index join
    exactly like Jaccard's ``max_doc_freq``.  Load-bearing at sf0.01
    (cross-bench-doc shingles exist, so the pair set differs from the
    uncapped query); denominators stay uncapped by design."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return C.contamination_overlap(docs, "doc_id", "text", bench, n=3,
                                   max_bench_doc_freq=1)


@register("corpus_stats", oracle=f"""
WITH ag AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
         CAST(sum(CAST(ceil(CAST(length(text) AS BIGINT) / 4.0) AS BIGINT))
              AS BIGINT) AS total_est_tokens
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, total_chars, total_est_tokens,
       CAST({staged_ppm("total_chars", "n_docs", intdiv="//")}
            AS DOUBLE) / 1000000.0 AS avg_chars
FROM ag
""")
def corpus_stats(spark, sf_dir):
    """Corpus composition report per (source, language) — partial-
    aggregate shape, the cheapest full-corpus pass."""
    return C.corpus_stats(
        load_table(spark, sf_dir, "documents"), "text", ["source", "lang"])


@register("corpus_chunks", oracle="""
WITH p AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
), s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n - 1, 150)) AS chunk_start
  FROM p
)
SELECT doc_id, CAST(chunk_start / 150 AS BIGINT) AS chunk_id,
       substr(text, CAST(chunk_start + 1 AS INT), 200) AS chunk_text,
       CAST(length(substr(text, CAST(chunk_start + 1 AS INT), 200))
            AS BIGINT) AS chunk_chars
FROM s
""")
def corpus_chunks(spark, sf_dir):
    """Fixed-size overlapping character chunks (size 200 / stride 150)
    — sequence-window preparation; map-only row expansion."""
    return C.chunk_documents(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                             size=200, stride=150)


@register("corpus_mixture", oracle="""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS _c FROM documents GROUP BY 1
), m AS (
  SELECT min(_c) AS _cmin FROM c
)
SELECT d.doc_id, d.source,
       round(sqrt(m._cmin * 1.0 / c._c), 6) AS keep_frac
FROM documents d JOIN c USING (source) CROSS JOIN m
WHERE (((((CAST(d.doc_id AS BIGINT) % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 2147483647) % 1000000
      < sqrt(m._cmin * 1.0 / c._c) * 1000000
""")
def corpus_mixture(spark, sf_dir):
    """Temperature-0.5 data-mixture rebalancing: deterministically
    downsample each source by sqrt(min_count/count) so small sources
    stop being drowned — one map-side filter pass."""
    return C.mixture_rebalance(
        load_table(spark, sf_dir, "documents"), "doc_id", "source")


@register("corpus_pack_sequences", oracle="""
WITH p AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
), s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n - 1, 150)) AS chunk_start
  FROM p
), c AS (
  SELECT doc_id, CAST(chunk_start / 150 AS BIGINT) AS chunk_id,
         CAST(ceil(length(substr(text, CAST(chunk_start + 1 AS INT), 200))
              / 4.0) AS BIGINT) AS n_tokens
  FROM s
), r AS (
  SELECT doc_id, chunk_id, n_tokens,
         CAST(sum(n_tokens) OVER
              (ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM c
)
SELECT doc_id, chunk_id, n_tokens,
       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
FROM r
""")
def corpus_pack_sequences(spark, sf_dir):
    """Pack document chunks into 512-token training sequences by
    global offset — two-level distributed prefix sum, oracle-checked
    against the flat window-sum definition."""
    chunks = C.chunk_documents(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                               size=200, stride=150)
    return C.pack_sequences(chunks, budget_tokens=512)


@register("corpus_e2e_pipeline", oracle="""
WITH q AS (
  SELECT doc_id, lang, text,
         percent_rank() OVER (PARTITION BY lang
           ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS pr
  FROM documents
), a AS (
  SELECT doc_id, text FROM q WHERE pr <= 0.5
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM a GROUP BY text
), b AS (
  SELECT a.doc_id, a.text FROM a JOIN keepers USING (doc_id)
), w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM b
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM w WHERE len(w) >= 3
), bw AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 20 = 0
), bg AS (
  SELECT DISTINCT doc_id AS bdoc,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM bw WHERE len(w) >= 3
), hits AS (
  SELECT g.doc_id, count(DISTINCT g.shingle) AS n_overlap
  FROM g JOIN bg ON g.shingle = bg.shingle AND g.doc_id <> bg.bdoc
  GROUP BY 1
), tot AS (
  SELECT doc_id, count(*) AS n_shingles FROM g GROUP BY 1
), contaminated AS (
  SELECT t.doc_id FROM tot t JOIN hits h USING (doc_id)
  WHERE h.n_overlap * 1.0 / t.n_shingles >= 0.5
), clean AS (
  SELECT b.doc_id, b.text FROM b
  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = b.doc_id)
), p AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM clean WHERE length(text) >= 1
), s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n - 1, 150)) AS chunk_start
  FROM p
), c2 AS (
  SELECT doc_id, CAST(chunk_start / 150 AS BIGINT) AS chunk_id,
         CAST(ceil(length(substr(text, CAST(chunk_start + 1 AS INT), 200))
              / 4.0) AS BIGINT) AS n_tokens
  FROM s
), r AS (
  SELECT doc_id, chunk_id, n_tokens,
         CAST(sum(n_tokens) OVER
              (ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM c2
)
SELECT doc_id, chunk_id, n_tokens,
       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
FROM r
""")
def corpus_e2e_pipeline(spark, sf_dir):
    """The end-to-end training-data pipeline as ONE composed query —
    the flagship demonstration that the corpus operators chain into
    the actual 100 TB preparation run:

    1. quality filter: keep each language's longest half
       (``quality_quantile_filter``, one keyed-window shuffle);
    2. exact dedup: keep the min-id copy of every distinct text —
       grouped on a 256-bit SHA-2 digest of the text, NOT the text
       itself, so the shuffle carries 32-byte keys instead of
       document bodies (equal to text-equality grouping barring
       SHA-256 collisions — the ``incremental_dedup`` argument);
    3. decontamination: drop docs with >= 50 % 3-gram overlap against
       the benchmark subset (full-corpus doc_id %% 20 = 0), via the
       inverted-index join (``contamination_overlap``, never n²);
    4. chunk 200/150 + pack into 512-token sequences
       (``chunk_documents`` map-only explode, ``pack_sequences``
       three-level distributed prefix sum).

    Every stage is shuffle-bounded: two keyed windows, two groupBys,
    two semi/anti joins, one posting join — no cartesian, no
    unpartitioned window, no driver data path.  The oracle spells the
    identical pipeline in SQL CTEs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    kept = C.quality_quantile_filter(docs, "doc_id", "text", "lang",
                                     keep_frac=0.5)
    surv = docs.join(kept.select("doc_id"), "doc_id", "semi")
    # exact dedup: keep the min-id copy per 256-bit text digest.  ONE
    # row_number window over the digest — identical row set to the
    # old groupBy(digest).agg(min) + semi-join-back (doc_id is unique,
    # so rn=1 ordered by doc_id IS the min-id row), but the window
    # form references ``surv`` once where the join form embedded the
    # whole scan+quality-window subtree TWICE (Spark has no DataFrame
    # CTE reuse; the duplicated subtree doubled stages 1-2 and blew
    # the final plan up to 121 Exchange nodes — planning itself was a
    # measurable cost at every downstream action).  The digest shuffle
    # carries the doc payload once, same as the old semi-join did.
    #
    # deduped feeds BOTH the contamination check and the final
    # anti-join — eager localCheckpoint (not persist) so the upstream
    # chain executes exactly once AND the lineage is truncated:
    # decontamination / chunk / pack then plan over a LogicalRDD leaf
    # instead of re-optimizing the full pipeline tree per action
    # (guide §3.3: very large plans make planning time the
    # bottleneck; cluster caveat in operators/dedup.py module doc)
    deduped = (
        surv.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.sha2(F.col("text"), 256))
                .orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    overlap = C.contamination_overlap(deduped, "doc_id", "text", bench, n=3)
    contaminated = overlap.filter(F.col("is_contaminated")).select("doc_id")
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    chunks = C.chunk_documents(clean, "doc_id", "text", size=200, stride=150)
    return C.pack_sequences(chunks, budget_tokens=512)


@register("events_latest_state", oracle="""
WITH r AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value, ts_epoch
FROM r WHERE rn = 1
""")
def events_latest_state(spark, sf_dir):
    """CDC latest-wins compaction: the newest event per user (ts desc,
    event_id tiebreak) — changelog → snapshot in one keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    out = C.latest_state(ev, "user_id", "ts", "event_id")
    return out.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
    )


@register("corpus_shuffle_shards", oracle="""
WITH h AS (
  SELECT doc_id,
         ((((CAST(doc_id AS BIGINT) % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 2147483647 AS hv
  FROM documents
)
SELECT doc_id, hv % 64 AS shard,
       CAST(row_number() OVER
            (PARTITION BY hv % 64 ORDER BY hv, doc_id) AS BIGINT) - 1
         AS pos_in_shard
FROM h
""")
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle: hash-route documents to
    64 shards, order within each shard (parallel per-shard sorts — no
    global sort at any scale)."""
    return C.shuffle_shards(
        load_table(spark, sf_dir, "documents"), "doc_id", n_shards=64)


def _kmeans_oracle():
    from ._kmeans_sql import kmeans_assign_sql

    return kmeans_assign_sql(k=8, n_iter=5)


@register("kmeans_clusters", oracle=_kmeans_oracle())
def kmeans_clusters(spark, sf_dir):
    """Deterministic Lloyd's k-means (k=8, 5 iterations) over the
    embeddings table: broadcast-centroid map-side assignment, exact
    fixed-point (microunit BIGINT) distances and centroid updates —
    which is what lets an ITERATIVE algorithm carry a full value
    oracle: the SQL twin unrolls the 5 iterations into CTE pairs
    (``queries/_kmeans_sql.py``) and reproduces every assignment
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.kmeans_assign(emb, "vec_id", "embedding", k=8, n_iter=5)
