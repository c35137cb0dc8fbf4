"""Corpus-preparation queries for LLM training data: term weighting,
splits, quality filtering, decontamination, composition, chunking,
packing, tokenizer training and drift, clustering and curation
reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..operators import corpus as C, dedup as D, similarity as S, text as T
from ..operators.bloom import bloom_pass_keys, bloom_words_table
from ..operators.bpe import (
    bpe_encode_counts, bpe_fertility_drift, vocab_oov_drift,
)
from ..operators.corpus import apportion_largest_remainder, topv_coverage
from ..operators.layout import rendezvous_shards
from ..operators.stats import _RDIV, gini_grouped, staged_ppm
from ..operators.text import logistic_quality_score, QUALITY_WEIGHTS
from ..registry import register
from ..sources.catalog import load_table, spread_input
from ._bpe_sql import (
    bpe_fertility_drift_sql, bpe_fertility_sql, vocab_oov_drift_sql,
)
from ._shared import (
    _BLOOM_WORDS, _DOC_TOKENS, _K, _NUM_BITS, _QUALITY_SCORE, _rdiv_sql,
    _SHINGLE_REACH, _sized_bits,
)

#: a 200-char chunk every 150 chars of every non-empty document
_CHUNK_STARTS = """
WITH p AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
), s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n - 1, 150)) AS chunk_start
  FROM p
)"""

#: distinct word 3-grams per document: ``g(doc_id, shingle)``
_TRIGRAMS = """w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM w WHERE len(w) >= 3
)"""

#: BM25 (k1 = 1.2, b = 0.75) term contributions for four query terms
_BM25_CONTRIB = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS total_len,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM dl
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE term IN ('join', 'hash', 'vector', 'spark')
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(CAST(1.0 AS DOUBLE)
              + (stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                / (dfreq.df + CAST(0.5 AS DOUBLE)))
           * tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (tf.tf + CAST(1.2 AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * dl.dl * stats.n_docs
                   / stats.total_len)),
           6) AS DECIMAL(18,6)) AS c
"""

#: benchmark shingles kept only when one benchmark doc holds them
_CAPPED_BENCH = """b0 AS (
  SELECT DISTINCT shingle, doc_id AS bdoc FROM g WHERE doc_id % 20 = 0
), b AS (
  SELECT shingle, bdoc FROM (
    SELECT shingle, bdoc, COUNT(*) OVER (PARTITION BY shingle) AS bdf
    FROM b0
  ) WHERE bdf <= 1
)"""

#: shingles of benchmark docs (``b``) hit by other docs: overlap and
#: shingle totals per document
_BENCH_HITS = """hits AS (
  SELECT g.doc_id, CAST(count(DISTINCT g.shingle) AS BIGINT) AS n_overlap
  FROM g JOIN b ON g.shingle = b.shingle AND g.doc_id <> b.bdoc
  GROUP BY 1
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM g GROUP BY 1
)"""

#: contamination ratio per document and the joined keep verdict
_CURATION_VERDICT = """contam AS (
  SELECT t.doc_id,
         round(coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles, 6)
           AS overlap_ratio,
         coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles >= 0.5
           AS is_contaminated
  FROM tot t LEFT JOIN hits h USING (doc_id)
)
SELECT q.doc_id, q.n_tokens, q.uniq_ratio, q.stopword_ratio, q.is_quality,
       n.novelty,
       c.overlap_ratio, c.is_contaminated,
       (q.is_quality
        AND NOT coalesce(c.is_contaminated, FALSE)
        AND coalesce(n.novelty, 1.0) >= 0.2) AS keep
FROM quality q
LEFT JOIN novelty n USING (doc_id)
LEFT JOIN contam c USING (doc_id)
"""

#: the curation scorecard's inputs: quality heuristics, 5-gram
#: novelty and the 3-gram shingles ``g`` the contamination probe uses
_CURATION_SIGNALS = """
WITH """ + _DOC_TOKENS + """, quality AS (
  SELECT doc_id, n_tokens,
         round(len(list_distinct(w)) * 1.0 / n_tokens, 6) AS uniq_ratio,
         round(len(list_filter(w, t ->
               list_contains(['the','a','and','of','to','is'], t))) * 1.0
               / n_tokens, 6) AS stopword_ratio,
         (n_tokens >= 10
          AND round(len(list_distinct(w)) * 1.0 / n_tokens, 6) >= 0.1
          AND round(alpha_chars * 1.0 / n_tokens, 6) <= 15.0) AS is_quality
  FROM x
), words5 AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh5 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words5
), dfreq AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh5 GROUP BY 1
), novelty AS (
  SELECT doc_id,
         round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*), 6)
           AS novelty
  FROM sh5 JOIN dfreq USING (shingle) GROUP BY doc_id
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM words5 WHERE len(w) >= 3
)"""


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
        load_table(spark, sf_dir, "documents"), "doc_id", "lang"
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
        load_table(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


@register("corpus_contamination", oracle="""
WITH """ + _TRIGRAMS + """, b AS (
  SELECT DISTINCT shingle, doc_id AS bdoc FROM g WHERE doc_id % 20 = 0
), """ + _BENCH_HITS + """
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
    return _contamination(load_table(spark, sf_dir, "documents"), None)


def _contamination(docs, max_bench_doc_freq):
    """3-gram contamination of ``docs`` against their benchmark subset
    ``doc_id % 20 = 0``."""
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return C.contamination_overlap(docs, "doc_id", "text", bench,
                                   max_bench_doc_freq=max_bench_doc_freq)


@register("corpus_contamination_capped", oracle="""
WITH """ + _TRIGRAMS + """, """ + _CAPPED_BENCH + """, """ + _BENCH_HITS + """
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
    return _contamination(load_table(spark, sf_dir, "documents"), 1)


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


@register("corpus_chunks", oracle=_CHUNK_STARTS + """
SELECT doc_id, CAST(chunk_start / 150 AS BIGINT) AS chunk_id,
       substr(text, CAST(chunk_start + 1 AS INT), 200) AS chunk_text,
       CAST(length(substr(text, CAST(chunk_start + 1 AS INT), 200))
            AS BIGINT) AS chunk_chars
FROM s
""")
def corpus_chunks(spark, sf_dir):
    """Fixed-size overlapping character chunks (size 200 / stride 150)
    — sequence-window preparation; map-only row expansion."""
    return C.chunk_documents(load_table(spark, sf_dir, "documents"), "doc_id", "text")


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


@register("corpus_pack_sequences", oracle=_CHUNK_STARTS + """, c AS (
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
    chunks = C.chunk_documents(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return C.pack_sequences(chunks)


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
    kept = C.quality_quantile_filter(docs, "doc_id", "text", "lang")
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
    overlap = C.contamination_overlap(deduped, "doc_id", "text", bench)
    contaminated = overlap.filter(F.col("is_contaminated")).select("doc_id")
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    chunks = C.chunk_documents(clean, "doc_id", "text")
    return C.pack_sequences(chunks)


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


@register("corpus_source_cap", oracle="""
SELECT * FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id ASC)
              AS BIGINT) AS rk
  FROM documents
) WHERE rk <= 20
""")
def corpus_source_cap(spark, sf_dir):
    """Per-source quota cap: at most 20 docs per source, preferring
    the longest (deterministic tiebreak) — the anti-domination knob of
    every crawl pipeline; WindowGroupLimit keeps it skew-safe."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return C.cap_per_group(docs, "source", "n_chars", "doc_id", k=20)


@register("corpus_bm25_topk", oracle=_BM25_CONTRIB + """\
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(c) AS DOUBLE) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
""")
def corpus_bm25_topk(spark, sf_dir):
    """BM25 top-20 docs for the query {join, hash, vector, spark} —
    inverted-index access path (term-IN prune before the tf shuffle),
    per-term contributions rounded then DECIMAL-summed so the score is
    order-independent and oracle-exact."""
    return C.bm25_search(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        query_terms=["join", "hash", "vector", "spark"], k=20,
    )


@register("corpus_global_index", oracle="""
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1
            AS BIGINT) AS row_id
FROM documents
""")
def corpus_global_index(spark, sf_dir):
    """Deterministic 0-based global sample index over the corpus
    (longest first, id tiebreak) — computed by range-bucket +
    per-bucket rank + offset join, NEVER a global sort or
    unpartitioned data-sized window; the oracle's row_number() over
    the total order must match exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return C.global_row_numbers(
        docs,
        order_cols=[F.desc("n_chars"), F.asc("doc_id")],
        range_cols=[F.desc("n_chars"), F.asc("doc_id")],
    )


@register("corpus_curation_report", oracle=_CURATION_SIGNALS + """, b AS (
  SELECT DISTINCT shingle, doc_id AS bdoc FROM g WHERE doc_id % 20 = 0
), """ + _BENCH_HITS + """, """ + _CURATION_VERDICT)
def corpus_curation_report(spark, sf_dir):
    """Per-document curation scorecard: quality heuristics + 5-gram
    novelty + benchmark contamination joined into ONE wide table with
    a final keep/drop verdict — the materialized report a curation run
    hands to reviewers.  Three doc_id-keyed left joins over operators
    that are each individually graded; co-partitioned on the join key,
    so the composition adds no new wide shuffles beyond its parts."""
    return _curation_report(spark, sf_dir, None)


def _curation_report(spark, sf_dir, max_bench_doc_freq):
    """Quality, 5-gram novelty and contamination per document, joined
    on ``doc_id`` with the keep verdict."""
    docs = load_table(spark, sf_dir, "documents")
    quality = T.quality_scores(docs, "doc_id", "text").select(
        "doc_id", "n_tokens", "uniq_ratio", "stopword_ratio", "is_quality"
    )
    novelty = D.ngram_novelty(docs, "doc_id", "text").select(
        "doc_id", "novelty"
    )
    contam = _contamination(docs, max_bench_doc_freq).select(
        "doc_id", "overlap_ratio", "is_contaminated"
    )
    keep = (
        F.col("is_quality")
        & ~F.coalesce(F.col("is_contaminated"), F.lit(False))
        & (F.coalesce(F.col("novelty"), F.lit(1.0)) >= 0.2)
    )
    return (
        quality.join(novelty, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .withColumn("keep", keep)
    )


@register("corpus_pmi_collocations", oracle="""
WITH base AS (
  SELECT string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM base, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
), uni AS (
  SELECT unnest(w) AS word FROM base
), cu AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM uni
)
SELECT c12.w1, c12.w2, c12.c12, a.c AS c1, b.c AS c2,
       round(ln((CAST(n.n AS DOUBLE) * c12.c12)
                / (CAST(a.c AS DOUBLE) * b.c)), 6) AS pmi
FROM c12
JOIN cu a ON c12.w1 = a.word
JOIN cu b ON c12.w2 = b.word
CROSS JOIN n
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 50
""")
def corpus_pmi_collocations(spark, sf_dir):
    """Top-50 collocations by PMI (min count 5): exact counts,
    rounded-then-ranked score, TakeOrderedAndProject top-k."""
    return C.pmi_collocations(load_table(spark, sf_dir, "documents"), "text",
                              min_count=5, k=50)


@register("corpus_snapshot_diff", oracle="""
WITH v1 AS (
  SELECT doc_id, text FROM documents
), v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new document ' || doc_id AS text
  FROM documents WHERE doc_id % 25 = 0
), j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         v1.text AS t1, v2.text AS t2
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT doc_id,
       CASE WHEN t1 IS NULL THEN 'added'
            WHEN t2 IS NULL THEN 'removed'
            WHEN t1 <> t2 THEN 'changed' END AS status
FROM j
WHERE (t1 IS NULL OR t2 IS NULL OR t1 <> t2)
""")
def corpus_snapshot_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions (v2 constructed
    deterministically in-query: every 10th doc removed, every 7th
    edited, every 25th re-added under a new id) — digest-keyed FULL
    OUTER join, only the delta survives."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")).alias("text"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new document "), F.col("doc_id")).alias("text"),
            )
        )
    )
    return C.snapshot_diff(docs, v2, "doc_id", ["text"])


@register("corpus_hybrid_rrf", oracle=_BM25_CONTRIB + """\
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), bm25 AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS score
  FROM contrib GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 100
), sparse AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS BIGINT) AS rank
  FROM bm25
), dense0 AS (
  SELECT c.vec_id AS doc_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id = 0
), dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM dense0
  ) WHERE rank <= 100
), fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         CAST(COALESCE(round(CAST(1.0 AS DOUBLE) / (60 + s.rank), 9), 0.0)
              AS DECIMAL(18,9))
       + CAST(COALESCE(round(CAST(1.0 AS DOUBLE) / (60 + d.rank), 9), 0.0)
              AS DECIMAL(18,9)) AS rrf,
         s.rank IS NOT NULL AS in_sparse,
         d.rank IS NOT NULL AS in_dense
  FROM sparse s FULL OUTER JOIN dense d USING (doc_id)
)
SELECT doc_id, CAST(rrf AS DOUBLE) AS rrf_score, in_sparse, in_dense
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 20
""")
def corpus_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-100 (terms {join, hash, vector,
    spark}) fused with dense cosine top-100 (query vector vec_id=0)
    by reciprocal-rank fusion — rank-based, so no cross-scale score
    normalization; decimal-summed contributions, TakeOrdered top-20."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sparse = C.bm25_search(
        docs, "doc_id", "text",
        query_terms=["join", "hash", "vector", "spark"], k=100,
    )
    # rank over the top-100 slice: a window over <= 100 rows (bounded
    # by the limit, not by data)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    sparse_r = sparse.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("doc_id", "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    dense = S.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), k=100
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return S.rrf_fuse(sparse_r, dense)


@register("corpus_token_budget_plan", oracle="""
WITH per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) % 3 + 1
              AS DOUBLE) AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(w) AS wtot FROM per_source
)
SELECT source, n_docs, n_tokens,
       round(w / wtot, 6) AS target_weight,
       CAST(floor((w / wtot) * 100000.0) AS BIGINT) AS target_tokens,
       round(least(1.0,
             CAST(floor((w / wtot) * 100000.0) AS BIGINT) / n_tokens), 6)
         AS sample_frac,
       CAST(ceil(greatest(1.0,
             CAST(floor((w / wtot) * 100000.0) AS BIGINT) / n_tokens))
            AS BIGINT) AS epochs,
       CAST(floor(round(least(1.0,
             CAST(floor((w / wtot) * 100000.0) AS BIGINT) / n_tokens), 6)
             * n_tokens) AS BIGINT) AS expected_tokens
FROM per_source CROSS JOIN tot
""")
def corpus_token_budget_plan(spark, sf_dir):
    """Mixture planning: per-source token supply vs a 100k-token
    budget split by deterministic target weights — sampling fraction,
    epoch (oversample) count, and expected token yield per source, the
    planning table a training-data mixer materializes before sampling.
    One tiny per-source aggregate + a one-row weight-total broadcast;
    exact to the oracle at every derived column."""
    return C.token_budget_plan(load_table(spark, sf_dir, "documents"), "text",
                               "source", budget_tokens=100_000)


@register("corpus_curation_report_capped", oracle=(
    _CURATION_SIGNALS + ", " + _CAPPED_BENCH + ", " + _BENCH_HITS + ", "
    + _CURATION_VERDICT))
def corpus_curation_report_capped(spark, sf_dir):
    """The curation scorecard with the 100 TB knob engaged: the
    contamination signal runs with ``max_bench_doc_freq=1`` (shingles
    shared by multiple benchmark docs are non-discriminative and
    multiply into every matching corpus doc — the join-output growth
    term when the uncapped report was measured at 5.2x per 10x data).
    Novelty already joins only df=1 shingles; quality is map-only.
    Same report schema, bounded joins all the way down."""
    return _curation_report(spark, sf_dir, 1)


@register("corpus_vocabulary", oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), nd AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY 1
), vocab AS (
  SELECT term, TRUE AS in_vocab
  FROM dfreq, nd WHERE df >= 2 AND df <= n * 0.8
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab USING (term)
GROUP BY 1
""")
def corpus_vocabulary(spark, sf_dir):
    """df-banded vocabulary build + per-doc OOV coverage audit —
    the tokenizer-prep step; term-keyed aggregate + term-keyed join,
    both bounded-key shuffles with map-side combine."""
    from ..operators.corpus import vocabulary_oov

    return vocabulary_oov(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _bpe_oracle():
    from ._bpe_sql import bpe_train_sql

    return bpe_train_sql()


@register("corpus_bpe_merges", oracle=_bpe_oracle())
def corpus_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): ONE
    corpus pass builds the word-frequency dictionary, then 8 merge
    iterations of distributed pair counting + constant-size argmax
    learn the merge table — the Sennrich word-frequency formulation,
    all JVM-side array lambdas.  Fully deterministic (integer counts,
    lexicographic tie-breaks, greedy even-offset rule for overlapping
    same-symbol pairs), so the unrolled-CTE DuckDB twin value-matches
    every learned merge — the same macro-unrolling trick as the
    k-means oracle."""
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(spark, docs, "text")


def _bpe_encode_oracle():
    from ._bpe_sql import bpe_encode_sql

    return bpe_encode_sql()


@register("corpus_bpe_encode", oracle=_bpe_encode_oracle())
def corpus_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the trained BPE merges: per doc
    (n_words, n_bpe_tokens).  The merge loop runs ONCE on the
    vocabulary; encoding is a broadcast join of exploded corpus words
    against the ≤2000-row trained symbol table — documents never
    shuffle, which is what makes trained-tokenizer token counting
    viable at 100 TB (OOV words cost len+1 character tokens)."""
    from ..operators.bpe import bpe_encode_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_counts(spark, docs, "doc_id", "text")


def _cluster_balance_oracle():
    from ._kmeans_sql import kmeans_ctes

    return (
        "WITH " + kmeans_ctes(k=8, n_iter=3)
        + """, lab AS (
  SELECT a.cl AS cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n
  FROM a2 a JOIN embeddings e ON e.vec_id = a.vid
  GROUP BY 1, 2
), tot AS (
  SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_vectors FROM lab GROUP BY 1
), top AS (
  SELECT cluster, label AS top_label, n AS top_label_n,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n DESC, label ASC) AS rn
  FROM lab
)
SELECT t.cluster, t.n_vectors, p.top_label, p.top_label_n,
       CAST(p.top_label_n AS DOUBLE) / t.n_vectors AS top_share
FROM tot t JOIN top p ON p.cluster = t.cluster AND p.rn = 1
"""
    )


@register("corpus_cluster_balance", oracle=_cluster_balance_oracle())
def corpus_cluster_balance(spark, sf_dir):
    """Cluster-composition audit for curriculum/mixture planning:
    k-means (k=8, 3 iters, exact fixed-point) assigns every embedding,
    then per cluster the size and dominant label share are reported —
    the skew signal a cluster-balanced sampler consumes.  One keyed
    agg over assignments; the iterative training itself carries the
    unrolled-CTE oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.corpus import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=8, n_iter=3) \
        .withColumnRenamed("vid", "vec_id")
    lab = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = lab.groupBy("cluster").agg(F.sum("n").alias("n_vectors"))
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    top = (
        lab.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col("label").alias("top_label"),
                F.col("n").alias("top_label_n"))
    )
    return tot.join(top, "cluster").select(
        "cluster", "n_vectors", "top_label", "top_label_n",
        (F.col("top_label_n").cast("double") / F.col("n_vectors"))
        .alias("top_share"),
    )


@register("corpus_length_histogram", oracle="""
SELECT source,
       CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY 1, 2
""")
def corpus_length_histogram(spark, sf_dir):
    """Per-source document-length histogram in decimal-magnitude
    buckets — the shape a sequence-packing planner reads to pick
    context length and packing strategy.  One map-side-combinable
    aggregation; bucket count is bounded (digits x sources), so the
    output is cluster-sized at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "source",
            F.length(F.col("n_chars").cast("string")).cast("bigint")
            .alias("magnitude"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("total_chars"),
             F.min("n_chars").cast("bigint").alias("min_chars"),
             F.max("n_chars").cast("bigint").alias("max_chars"))
    )


@register("corpus_mixture_temperature", oracle="""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1000000 + 0.5) AS BIGINT) AS weight_micro
  FROM s
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, weight_micro,
       CAST(weight_micro AS DOUBLE)
         / CAST(SUM(weight_micro) OVER () AS DOUBLE) AS sample_share
FROM w
""")
def corpus_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source sampling (alpha = 0.5): weight each
    source by sqrt(count) — the standard up-weighting of small
    sources in a multi-corpus training mixture.  sqrt is IEEE
    correctly-rounded in both engines; the weight is then pinned to
    integer micro-units so the share division is over exact integers.
    The share-of-total window runs over #sources rows (bounded,
    audit-reviewed)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = s.select(
        "source", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.floor(F.sqrt(F.col("n_docs")) * 1_000_000 + F.lit(0.5))
        .cast("bigint").alias("weight_micro"),
    )
    tot = Window.partitionBy()
    return w.select(
        "source", "n_docs", "weight_micro",
        (F.col("weight_micro").cast("double")
         / F.sum("weight_micro").over(tot).cast("double"))
        .alias("sample_share"),
    )


@register("corpus_leakage_safe_split", oracle=_SHINGLE_REACH + """, clusters AS (
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
    pairs = D.jaccard_pairs_exact(docs, "doc_id", "text")
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
        load_table(spark, sf_dir, "documents"), "source", "text")


@register("corpus_rendezvous_shards", oracle="""
WITH t AS (
  SELECT doc_id,
         list_transform(range(0, 17), s ->
           (((doc_id * 31 + s) % 2147483647)
            * 2654435761) % 2147483647) AS t1
  FROM documents
), w AS (
  SELECT doc_id,
         list_transform(range(0, 16), s ->
           {'w': (t1[s + 1] * t1[s + 1]) % 2147483647,
            's': s}) AS ws,
         (t1[17] * t1[17]) % 2147483647 AS nw
  FROM t
), a AS (
  SELECT doc_id,
         list_reduce(ws, (acc, x) ->
           CASE WHEN x.w > acc.w THEN x ELSE acc END).s AS shard,
         nw > list_max(list_transform(ws, x -> x.w)) AS moves
  FROM w
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_to_new,
       CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS move_rate
FROM a GROUP BY 1
""")
def corpus_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) sharding report
    (operators/layout.py rendezvous_shards): deterministic per-(doc,
    shard) integer weights, argmax placement over 16 shards, and —
    the property that matters — how few rows a 17th shard would
    steal (~1/17, vs near-total reshuffle under modulo sharding).
    Map-only argmax + one shard-count-sized aggregate."""
    return rendezvous_shards(
        load_table(spark, sf_dir, "documents"), "doc_id", n_shards=16)


@register("corpus_gini_doclen", oracle="""
WITH per_b AS (
  SELECT n_chars // 16 AS b,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(n_chars) AS BIGINT) AS s
  FROM documents GROUP BY 1
), terms AS (
  SELECT b, c, s,
         c * (2 * CAST(SUM(s) OVER w AS BIGINT) - s) AS term
  FROM per_b
  WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), a AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(term) AS BIGINT) AS gini_num
  FROM terms
)
SELECT n, total, n_buckets, gini_num,
       1.0 - CAST(gini_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) AS gini
FROM a
""")
def corpus_gini_doclen(spark, sf_dir):
    """Grouped Gini coefficient of document lengths
    (operators/stats.py gini_grouped, 16-char buckets): the
    inequality read a corpus-mixture owner checks before length-
    balancing.  One bucket-keyed aggregate over the corpus, then the
    Lorenz trapezoid sum over the value-domain-bounded bucket table —
    all BIGINT, one final division."""
    return gini_grouped(load_table(spark, sf_dir, "documents"), "n_chars", 16)


@register("corpus_quota_apportion", oracle=f"""
WITH w AS (
  SELECT source AS key, CAST(SUM(n_chars) AS BIGINT) AS weight
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS big_w FROM w
), base AS (
  SELECT key, weight,
         CAST((1000000 * weight) // big_w AS BIGINT) AS base_quota,
         CAST((1000000 * weight) % big_w AS BIGINT) AS rem
  FROM w CROSS JOIN tot
), ranked AS (
  SELECT key, weight, base_quota,
         ROW_NUMBER() OVER (ORDER BY rem DESC, key) AS rk,
         CAST(1000000 - SUM(base_quota) OVER () AS BIGINT) AS leftover
  FROM base
)
SELECT key, weight, base_quota,
       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM ranked
""")
def corpus_quota_apportion(spark, sf_dir):
    """Hamilton largest-remainder apportionment of 1M sampling slots
    across document sources by character mass
    (operators/corpus.py apportion_largest_remainder): floor quotas
    plus one-each to the largest remainders, so the quotas sum to
    exactly 1,000,000 — the integer-exact property a mixture sampler
    needs.  All windows run over the #sources-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy(F.col("source").alias("src")).agg(
        F.sum("n_chars").cast("bigint").alias("wt"))
    out = apportion_largest_remainder(w, "src", "wt", 1_000_000)
    return out.select(
        F.col("key"), "weight", "base_quota", "extra", "quota")


@register("corpus_zipf_audit", oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM words WHERE word <> '' GROUP BY 1
), ranked AS (
  SELECT word, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank
  FROM vocab
), rf AS (
  SELECT length(CAST(rank AS VARCHAR)) AS rank_digits,
         rank * freq AS product
  FROM ranked
)
SELECT CAST(rank_digits AS BIGINT) AS rank_digits,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(MIN(product) AS BIGINT) AS min_product,
       CAST(MAX(product) AS BIGINT) AS max_product,
       CAST({_rdiv_sql("SUM(product)", "COUNT(*)")} AS BIGINT)
         AS avg_product
FROM rf GROUP BY 1
""")
def corpus_zipf_audit(spark, sf_dir):
    """Zipf's-law audit: under rank x frequency ~ constant, the
    per-rank-magnitude (digit-count bucket) spread of the product
    exposes head/tail deviations — the sanity check before assuming
    frequency-based sampling weights.  The vocabulary aggregate is
    the only corpus-sized work; the ranking window runs over the
    vocab-bounded table.  Integer products, rounded-division mean."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    ranked = vocab.select(
        "freq",
        F.row_number().over(
            Window.orderBy(F.desc("freq"), F.asc("word"))).alias("rank"),
    )
    rf = ranked.select(
        F.length(F.col("rank").cast("string")).alias("rank_digits"),
        (F.col("rank") * F.col("freq")).alias("product"),
    )
    return rf.groupBy(
        F.col("rank_digits").cast("bigint").alias("rank_digits")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.min("product").cast("bigint").alias("min_product"),
        F.max("product").cast("bigint").alias("max_product"),
        F.expr(_RDIV.format(a="SUM(product)", b="COUNT(*)"))
        .cast("bigint").alias("avg_product"),
    )


@register("corpus_class_balance_downsample", oracle="""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
), m AS (
  SELECT CAST(MIN(c) AS BIGINT) AS m FROM counts
), ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked CROSS JOIN m
WHERE rk <= m
""")
def corpus_class_balance_downsample(spark, sf_dir):
    """Exact balanced downsampling: every language class reduced to
    the minority-class size by deterministic hash order (md5 of the
    doc id — reproducible across engines and runs, no RNG).  One
    class-partitioned ranking window + a 1-row broadcast minimum;
    the selection a multilingual trainer applies before mixing."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    m = counts.agg(F.min("c").alias("m"))
    ranked = docs.select(
        "lang", "doc_id",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        ).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))  # 1-row minority size
        .filter(F.col("rk") <= F.col("m"))
        .select("lang", F.col("doc_id").cast("bigint").alias("doc_id"))
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
""" + _QUALITY_SCORE + """\
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


@register("corpus_bpe_fertility", oracle=bpe_fertility_sql())
def corpus_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility by language: BPE tokens per word under the
    corpus-trained 8-merge symbol table (operators/bpe.py), rounded
    ppm ratio per language — the efficiency number that decides
    whether a tokenizer needs more merges for a given language mix.
    Encoding is the broadcast vocab join (the merge loop runs once on
    the <=2000-row vocab, never per document); the oracle replays the
    whole training unrolled."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = bpe_encode_counts(spark, docs, "doc_id", "text")
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


_STRATUM_N = 3


@register("corpus_stratified_sample", oracle=f"""
WITH ranked AS (
  SELECT lang, source, doc_id,
         CAST(row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk
  FROM documents
)
SELECT lang, source, doc_id, rk
FROM ranked WHERE rk <= {_STRATUM_N}
""")
def corpus_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly min(n, |stratum|)
    documents per (lang, source) stratum, chosen by md5-of-key order —
    the reproducible-across-runs-and-engines way to draw a balanced
    eval/train slice at 100 TB (mod-sampling — deterministic_sample —
    can't hit an exact per-stratum count; TABLESAMPLE isn't stable
    across partitions or engines).  One window per stratum, partition
    count bounded by the stratum domain; hash order makes the pick
    uniform in doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang", "source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id")))
    return (
        docs.select("lang", "source", "doc_id",
                    F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= _STRATUM_N)
    )


@register("corpus_span_corruption", oracle=f"""
WITH tok AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
                             || CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT
           % 100 < 15 AS masked
  FROM documents,
       UNNEST(generate_series(1, len(string_split(text, ' ')))) AS t(i)
), m AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS island
  FROM tok WHERE masked
), spans AS (
  SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS span_len
  FROM m GROUP BY 1, 2
), per_doc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (masked) AS BIGINT) AS n_masked
  FROM tok t GROUP BY 1
)
SELECT p.doc_id, n_tokens, n_masked,
       CAST(COALESCE(COUNT(s.island), 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(MAX(s.span_len), 0) AS BIGINT) AS max_span_len,
       CAST({_rdiv_sql("1000000 * n_masked", "n_tokens")} AS BIGINT)
         AS mask_ppm
FROM per_doc p LEFT JOIN spans s ON s.doc_id = p.doc_id
GROUP BY 1, 2, 3
""")
def corpus_span_corruption(spark, sf_dir):
    """T5-style span-corruption PLANNING: mask ~15% of each document's
    tokens by a deterministic per-(doc, position) md5 coin, then
    merge adjacent masked positions into spans (gaps-and-islands:
    pos - row_number, doc-partitioned) and report per-doc span
    statistics — the sentinel-budget numbers (how many <extra_id_k>
    sentinels, how much length shrink) a denoising-pretraining data
    build needs BEFORE writing any example.  Determinism is the
    point: any engine, any partitioning, any re-run plans the same
    masks.  One token explode + doc-keyed windows; nothing global."""
    # repartition on the doc id before the per-token md5 pass (one-
    # split fixture -> one task; hash-partitioning by doc also
    # pre-clusters the doc-keyed windows downstream)
    docs = spread_input(load_table(spark, sf_dir, "documents"), F.col("doc_id"))
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "_w"),
    ).select(
        "doc_id", "pos",
        (F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_"),
                           F.col("pos").cast("string"))), 1, 15),
            16, 10).cast("bigint") % 100 < 15).alias("masked"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (tok.filter("masked")
             .select("doc_id", "pos",
                     (F.col("pos") - F.row_number().over(w))
                     .alias("island"))
             .groupBy("doc_id", "island")
             .agg(F.count(F.lit(1)).cast("bigint").alias("span_len")))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("masked").cast("int")).cast("bigint")
        .alias("n_masked"))
    agg = (per_doc.join(spans, "doc_id", "left")
           .groupBy("doc_id", "n_tokens", "n_masked")
           .agg(F.coalesce(F.count("island"), F.lit(0)).cast("bigint")
                .alias("n_spans"),
                F.coalesce(F.max("span_len"), F.lit(0)).cast("bigint")
                .alias("max_span_len")))
    return agg.select(
        "doc_id", "n_tokens", "n_masked", "n_spans", "max_span_len",
        F.expr(_RDIV.format(a="1000000 * n_masked", b="n_tokens"))
        .cast("bigint").alias("mask_ppm"))


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


#: 3-gram shingle CTEs over the snapshot split: the corpus side is
#: the NEW snapshot (odd doc_ids), the benchmark is the fixed
#: doc_id % 20 = 0 subset of the full table, stop-shingle capped at
#: bench-doc-frequency 1 (the corpus_contamination_capped knob)
_SCREEN_CTE = "\n" + _TRIGRAMS + """, newg AS (
  SELECT doc_id, shingle FROM g WHERE doc_id % 2 = 1
), """ + _CAPPED_BENCH


@register("corpus_contamination_bloom", oracle=f"""
WITH {_SCREEN_CTE},
hits AS (
  SELECT newg.doc_id,
         CAST(count(DISTINCT newg.shingle) AS BIGINT) AS n_overlap
  FROM newg JOIN b ON newg.shingle = b.shingle
                  AND newg.doc_id <> b.bdoc
  GROUP BY 1
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
  FROM newg GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles, 6)
         AS overlap_ratio,
       coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles >= 0.5
         AS is_contaminated
FROM tot t LEFT JOIN hits h USING (doc_id)
""")
def corpus_contamination_bloom(spark, sf_dir):
    """Benchmark decontamination of a new snapshot THROUGH the
    benchmark's persisted Bloom store: identical output to the exact
    capped screen (the oracle IS the exact contamination SQL — no
    false negatives), but snapshot shingles failing the broadcast
    Bloom probe never shuffle into the inverted-index join.  The
    words table is built over the CAPPED bench index (the store the
    screen persists; ``bench_shingle_index`` keeps the cap semantics
    shared with the exact join) and sized at build time
    (``_sized_bits`` — the benchmark cardinality is known when its
    store is written).  At 100 TB the benchmark is constant-size, the
    snapshot is the big side, and the screen's cost is one map-only
    probe pass + a join over the pass sliver —
    ``contamination_bloom_cut_audit`` measures that sliver.

    The benchmark suite is tiny and fixed: its capped shingle index
    and a Bloom words table over it are built once and persisted;
    every new snapshot is screened map-side against the broadcast
    Bloom, and only the pass fraction shuffles into the exact
    inverted-index join."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    # the persisted store, built ONCE (benchmark-sized — bounded by
    # definition): the capped index feeds both the words table and the
    # exact join side, so the cap semantics physically cannot diverge
    # between the filter and the join it prunes.
    # consumers: sizing count-distinct, words build, exact hits join
    from pyspark.sql import Observation

    obs = Observation()
    idx = (C.bench_shingle_index(bench, "doc_id", "text",
                                 max_bench_doc_freq=1)
           .observe(obs, F.count(F.lit(1)).alias("n_keys"))
           .localCheckpoint(eager=True))
    # sizing rides the checkpoint job as an observe() metric — one
    # fewer driver action than the old separate count-distinct job
    # (r16 verdict ask #1 discipline).  count(*) IS the distinct
    # shingle count here: max_bench_doc_freq=1 caps every shingle to
    # at most one (shingle, bdoc) row.  No separate distinct store
    # materialization either: bit_or is idempotent, so building the
    # words table straight from the (shingle, bdoc) index sets exactly
    # the same bits, and the exact join side IS the index already
    bits = _sized_bits(int(obs.get["n_keys"] or 0))
    # portable=False (seeded xxhash64): the screen's output is
    # invariant to the position family (no false negatives), and the
    # md5 chain cost 5 hashes per SNAPSHOT (doc, shingle) row at probe
    # time — the 100 TB side.  The portable family stays on
    # ``contamination_bloom_cut_audit``, whose oracle rebuilds the
    # exact bit content; build and probe flags travel together.
    words = bloom_words_table(idx, "shingle", bits, _K,
                              portable=False)
    return C.contamination_overlap(
        new, "doc_id", "text", bench,
        bench_index=idx, bench_bloom=words,
        bloom_bits=bits, bloom_hashes=_K, bloom_portable=False)


def _tagged(docs):
    return docs.withColumn(
        "snap",
        F.when(F.col("doc_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")),
    )


@register("tokenizer_fertility_drift", oracle=bpe_fertility_drift_sql())
def tokenizer_fertility_drift(spark, sf_dir):
    """Per-language BPE fertility drift, prior snapshot vs new crawl,
    under the prior snapshot's frozen 8-merge symbol table
    (operators/bpe.py bpe_fertility_drift).  The training corpus-pass
    is one word-count shuffle; encoding both snapshots is ONE tagged
    corpus pass against the broadcast vocab.

    OOV words cost len+1 character tokens, so vocabulary turnover
    surfaces as rising fertility, the failure mode the audit exists to
    catch.  ``tokenizer_oov_drift`` is the cheap leading indicator (no
    merge training, so it can run on every crawl); this is the
    costlier confirmation."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility_drift(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0),
        _tagged(docs), "text", "lang")


@register("tokenizer_oov_drift", oracle=vocab_oov_drift_sql())
def tokenizer_oov_drift(spark, sf_dir):
    """Per-language OOV-mass drift against the prior snapshot's
    top-2000 dictionary (operators/bpe.py vocab_oov_drift) — the
    merge-free leading indicator of tokenizer_fertility_drift."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_oov_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        _tagged(docs), "text", "lang")


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
        load_table(spark, sf_dir, "documents"), "doc_id", "text")


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


@register("contamination_bloom_cut_audit", oracle=f"""
WITH {_SCREEN_CTE},
store AS (SELECT DISTINCT shingle FROM b),
{_BLOOM_WORDS}, probe_keys AS (
  SELECT DISTINCT shingle FROM newg
), ppos AS (
  SELECT p.shingle,
         ('0x' || substr(md5(i::VARCHAR || ':' || p.shingle), 1, 15))
           ::BIGINT % {_NUM_BITS} AS pos
  FROM probe_keys p, seeds
), bhits AS (
  SELECT p.shingle, COUNT(*) AS nhit
  FROM ppos p JOIN bloom bl ON CAST(p.pos // 64 AS BIGINT) = bl.w
   AND ((CASE WHEN p.pos % 64 = 63
              THEN (-9223372036854775807)::BIGINT - 1
              ELSE 1::BIGINT << CAST(p.pos % 64 AS INT) END)
        & bl.word) != 0
  GROUP BY 1
), pass AS (
  SELECT shingle FROM bhits WHERE nhit = {_K}
), truth AS (
  SELECT shingle FROM probe_keys INTERSECT SELECT shingle FROM store
), rows_all AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM newg
), rows_pass AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_pass
  FROM newg JOIN pass USING (shingle)
)
SELECT
  CAST((SELECT COUNT(*) FROM store) AS BIGINT) AS n_bench_shingles,
  CAST((SELECT COUNT(*) FROM probe_keys) AS BIGINT) AS n_probes,
  CAST((SELECT COUNT(*) FROM pass) AS BIGINT) AS n_pass,
  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_member,
  (SELECT n_rows FROM rows_all) AS n_rows,
  (SELECT n_rows_pass FROM rows_pass) AS n_rows_pass,
  CAST(((SELECT n_rows FROM rows_all)
        - (SELECT n_rows_pass FROM rows_pass)) * 1000000
       // GREATEST((SELECT n_rows FROM rows_all), 1)
    AS BIGINT) AS cut_row_ppm,
  CAST(((SELECT COUNT(*) FROM pass) - (SELECT COUNT(*) FROM truth))
       * 1000000
       // GREATEST((SELECT COUNT(*) FROM probe_keys)
                   - (SELECT COUNT(*) FROM truth), 1)
    AS BIGINT) AS fp_ppm,
  (SELECT COUNT(*) FROM truth t JOIN pass p USING (shingle))
    = (SELECT COUNT(*) FROM truth) AS no_false_negatives
""")
def contamination_bloom_cut_audit(spark, sf_dir):
    """One-row audit of the benchmark-screening Bloom: the capped
    bench index's portable (w, word) table is probed by every
    distinct new-snapshot shingle, and the graded outputs quantify
    the trade ``corpus_contamination_bloom`` rides — cut_row_ppm
    (fraction of the snapshot's (doc, shingle) join input removed
    map-side: the shuffle the screen saves), fp_ppm (benchmark-absent
    shingles that still pass — what sizes num_bits for a real
    benchmark suite), and no_false_negatives (checked, not assumed).
    Fixed 2^20 bits / k=5 so DuckDB rebuilds the exact bit content;
    as the benchmark index outgrows the fixed filter the degradation
    shows up HERE as fp_ppm drift, never as a silent wrong answer in
    the screen itself."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    from ..operators.dedup import shingles

    # checkpoint budget: the snapshot-sized frames live once each —
    # rows (doc, shingle) and its distinct-shingle projection; the
    # store and words are benchmark-sized (bounded by definition)
    # consumers: rows count, row-level pass join
    rows = shingles(new, "doc_id", "text", 3).localCheckpoint(eager=True)
    # consumers: probe, flags join
    news = rows.select("shingle").distinct().localCheckpoint(eager=True)
    # consumers: words build, flags join, n_bench_shingles count
    store = (C.bench_shingle_index(bench, "doc_id", "text",
                                   max_bench_doc_freq=1)
             .select("shingle").distinct()
             .localCheckpoint(eager=True))
    # <= 16 K rows, broadcast-probed k times: checkpoint is cheap
    words = bloom_words_table(store, "shingle", _NUM_BITS, _K)\
        .localCheckpoint(eager=True)
    passing = (bloom_pass_keys(news, "shingle", words, _NUM_BITS, _K)
               .localCheckpoint(eager=True))
    passed = (passing.select("shingle")
              .withColumn("passed", F.lit(1)).hint("merge"))

    # ONE flags pass for the distinct-shingle counts (the pattern of
    # dedup_cross_snapshot_bloom; sort-merge — all three sides are
    # snapshot-sized)
    flags = (
        news.hint("merge")
        .join(store.withColumn("in_store", F.lit(1)).hint("merge"),
              "shingle", "left")
        .join(passed, "shingle", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(F.coalesce(F.col("passed"), F.lit(0)))
            .cast("bigint").alias("n_pass"),
            F.sum(F.coalesce(F.col("in_store"), F.lit(0)))
            .cast("bigint").alias("n_member"),
            F.sum(F.coalesce(F.col("in_store"), F.lit(0))
                  * F.coalesce(F.col("passed"), F.lit(0)))
            .cast("bigint").alias("n_member_pass"),
        ))
    # row-level cut: the snapshot's (doc, shingle) rows that survive
    # the map-side probe — what actually reaches the exact join
    rstats = (
        rows.hint("merge")
        .join(passed, "shingle", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.coalesce(F.col("passed"), F.lit(0)))
            .cast("bigint").alias("n_rows_pass"),
        ))
    nbs = store.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_shingles"))
    return (nbs.crossJoin(F.broadcast(flags))
            .crossJoin(F.broadcast(rstats))
            .select(
                "n_bench_shingles", "n_probes", "n_pass", "n_member",
                "n_rows", "n_rows_pass",
                # greatest(...,1) mirrors fp_ppm: a 0-row snapshot
                # reports cut_row_ppm=0 on BOTH engines instead of
                # Spark's non-ANSI NULL vs DuckDB's div-by-zero error
                F.expr("(n_rows - n_rows_pass) * 1000000 DIV "
                       "greatest(n_rows, 1)")
                .cast("bigint").alias("cut_row_ppm"),
                F.expr("(n_pass - n_member) * 1000000 DIV "
                       "greatest(n_probes - n_member, 1)")
                .cast("bigint").alias("fp_ppm"),
                (F.col("n_member_pass") == F.col("n_member"))
                .alias("no_false_negatives"),
            ))
