"""Dedup queries over the ``documents`` table.

``dedup_jaccard_exact`` and ``dedup_minhash_lsh`` share one oracle: the
exact 5-gram-Jaccard pair set at threshold 0.5.  The MinHash query's
LSH candidate generation (r=1, b=24) has miss probability (1-j)^24 <=
6e-8 at the threshold, and every emitted pair is exact-verified, so
its output equals the exact computation.  ``dedup_simhash`` has no
portable SQL equivalent (xxhash64 bit-votes) → rows-only check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs


_JACCARD_ORACLE = """
WITH words AS (
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
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
"""


@register("dedup_exact", oracle="""
SELECT MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies,
       text
FROM documents
GROUP BY text
""")
def dedup_exact(spark, sf_dir):
    """Exact duplicate grouping on document text (hash-groupBy)."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", ["text"])


@register("dedup_jaccard_exact", oracle=_JACCARD_ORACLE)
def dedup_jaccard_exact(spark, sf_dir):
    """Exact 5-gram Jaccard near-dup pairs via posting-list join."""
    return D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)


@register("dedup_jaccard_capped", oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), shc AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           COUNT(*) OVER (PARTITION BY shingle) AS dfreq
    FROM sh
  ) WHERE dfreq <= 2
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
""")
def dedup_jaccard_capped(spark, sf_dir):
    """Exact Jaccard pairs WITH the stop-shingle cap engaged
    (``max_doc_freq=2``): shingles appearing in more documents are
    dropped on BOTH the posting-list join and the set sizes — the knob
    that bounds the worst posting list at 100 TB (a stop-shingle
    shared by 10^6 docs would otherwise emit 10^12 pair rows).  The
    cap is load-bearing at sf0.01: it removes df=3 shingles and the
    pair set genuinely differs from ``dedup_jaccard_exact``.  Oracle
    mirrors the cap with a COUNT(*) OVER (PARTITION BY shingle)
    prefilter."""
    return D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5, max_doc_freq=2)


@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidates (24 hashes, 1-row bands) + exact verify."""
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                               n=5, num_hashes=24, rows_per_band=1,
                               threshold=0.5)


@register("dedup_simhash_md5", oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w
), bitsum AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) i
  GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bitsum GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def dedup_simhash_md5(spark, sf_dir):
    """SimHash with the PORTABLE 60-bit md5-prefix word hash — the
    same pigeonhole chunk join as ``dedup_simhash``, but every value
    is reproducible in any SQL engine, so this variant carries a full
    value oracle (the oracle recomputes fingerprints bit-by-bit and
    brute-forces all pairs; the Spark side still never goes O(n²)).
    Upgrades SimHash from rows-only to hash-verified evidence."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           max_hamming=3, portable=True)


_CLUSTERS_ORACLE = """
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
)
SELECT a AS doc_id, MIN(b) AS cluster_id
FROM reach GROUP BY a
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Duplicate clustering: exact-Jaccard pairs -> connected
    components (iterative min-label propagation); the oracle computes
    the same components via a recursive transitive-closure CTE."""
    pairs = D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)
    return D.duplicate_clusters(pairs)


@register("dedup_incremental", oracle="""
SELECT d.doc_id, d.source
FROM documents d
WHERE CAST(substr(d.source, 4) AS BIGINT) >= 10
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE CAST(substr(c.source, 4) AS BIGINT) < 10
      AND c.text IS NOT DISTINCT FROM d.text
  )
""")
def dedup_incremental(spark, sf_dir):
    """Incremental (new-batch-vs-corpus) dedup: sources src10+ are the
    incoming batch, src0-src9 the existing corpus; new docs whose text
    digest already exists in the corpus are dropped via a fixed-width
    digest anti-join (the oracle's NOT EXISTS on text equality —
    identical barring SHA-256 collisions).

    NULL-equality contract: the digest is NULL-safe (a NULL-text doc
    matches a NULL-text corpus doc — they ARE duplicates), so the
    oracle compares with ``IS NOT DISTINCT FROM``, not ``=``."""
    d = load_table(spark, sf_dir, "documents")
    batch_no = F.substring("source", 4, 10).cast("bigint")
    new = d.filter(batch_no >= 10)
    corpus = d.filter(batch_no < 10)
    return D.incremental_dedup(new, corpus, ["text"]).select("doc_id", "source")


@register("dedup_passages", oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
), matches AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
), islands AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                    ORDER BY pos_a) AS isl
  FROM matches
)
SELECT doc_a, doc_b,
       CAST(MIN(pos_a) AS BIGINT) AS start_a,
       CAST(MIN(pos_a) - diag AS BIGINT) AS start_b,
       COUNT(*) AS n_grams,
       CAST(COUNT(*) + 7 AS BIGINT) AS span_words
FROM islands
GROUP BY doc_a, doc_b, diag, isl
HAVING COUNT(*) >= 2
""")
def dedup_passages(spark, sf_dir):
    """Substring-level duplicate-passage detection (8-word grams,
    maximal runs of >= 2 grams == shared passages of >= 9 words):
    positional-fingerprint join + diagonal gaps-and-islands merge —
    the distributed stand-in for suffix-array exact-substring dedup.
    The oracle replays the identical algorithm in SQL (it IS
    SQL-expressible: window over (pair, diagonal), never the corpus)."""
    return D.duplicate_passages(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=8, min_run=2
    )


@register("dedup_containment", oracle="""
WITH words AS (
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
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / ca.n, 6) AS containment
FROM pairs JOIN counts ca ON doc_a = ca.doc_id
WHERE common * 1.0 / ca.n >= 0.8
""")
def dedup_containment(spark, sf_dir):
    """Directional 5-gram containment >= 0.8 (|A∩B| / |A|) — the
    subset-duplicate metric catching excerpts/quotes that Jaccard's
    union normalization hides; same posting-list join shape."""
    return D.containment_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.8)
