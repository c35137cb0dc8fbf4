"""Deduplication and entity-resolution queries over ``documents`` and
``embeddings``: exact and near-duplicate pairs (Jaccard, MinHash,
SimHash, winnowing, prefix filtering), clustering, cross-snapshot
dedup through Bloom stores, and match scoring.

``dedup_jaccard_exact`` and ``dedup_minhash_lsh`` share one oracle,
the exact 5-gram Jaccard pair set at threshold 0.5: the MinHash LSH
candidate generation (r=1, b=24) misses a pair at the threshold with
probability (1-j)^24 <= 6e-8, and every emitted pair is verified, so
its output equals the exact computation.  The at-scale knob variants
(``dedup_minhash_lsh_r2``, ``dedup_simhash``) run the portable md5
hash paths, so r=2 banding and the Hamming <= 2 pigeonhole carry full
value oracles; the xxhash64 JVM paths stay the operators' defaults.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..functions.scalars import dsum
from ..operators import dedup as D, similarity as S, text as T
from ..operators.bloom import bloom_pass_keys, bloom_words_table
from ..operators.dedup import duplicate_clusters
from ..operators.stats import _RDIV
from ..operators.text import winnowing_fingerprints
from ..registry import register
from ..sources.catalog import load_table
from ._shared import (
    _BLOOM_WORDS, _emb, _K, _NEW_BATCH_UNSEEN, _NUM_BITS, _rdiv_sql, _RE_HOST,
    _RE_HOSTPORT, _RE_PATH, _RE_PORT, _RE_QUERY, _RE_SCHEME, _REACH, _SH0_SH,
    _SHINGLE_PAIRS, _SHINGLE_REACH, _SHINGLES, _SIM_EDGES, _sized_bits,
    _URL_SQL, _urls, _WINNOW_SQL,
)

#: 24 md5-seeded MinHashes in 12 bands of 2 rows; candidates share a band
_MINHASH_BAND_CANDIDATES = """mh AS (
  SELECT doc_id, t.i AS i,
         MIN(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || shingle),
              1, 15))::BIGINT) AS h
  FROM sh, range(0, 24) t(i)
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, i // 2 AS band,
         MIN(CASE WHEN i % 2 = 0 THEN h END) AS h0,
         MIN(CASE WHEN i % 2 = 1 THEN h END) AS h1
  FROM mh GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON b.band = a.band AND b.h0 = a.h0 AND b.h1 = a.h1
              AND b.doc_id > a.doc_id
)"""

#: 60-bit md5 word SimHash per document and the Hamming distance of
#: every document pair
_SIMHASH_PAIRS = """
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
"""


@register("dedup_survivors", oracle=_SHINGLE_REACH + """, comp AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
), sized AS (
  SELECT doc_id, cluster_id, n_chars,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM labeled
)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM sized WHERE rn = 1
""")
def dedup_survivors(spark, sf_dir):
    """The full "drop the near-dups" materialization: exact-Jaccard
    pairs -> connected components -> keep the best doc (longest, ties
    on lowest id) per cluster, singletons pass through.  The op a
    pipeline actually runs after near-dup detection; oracle recomputes
    clusters via a recursive transitive-closure CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs_exact(docs, "doc_id", "text", n=5, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    surv = D.dedup_survivors(
        docs.select("doc_id", "n_chars"), clusters, "doc_id", "n_chars"
    )
    return surv.select("doc_id", "cluster_id", "cluster_size", "n_chars")


@register("dedup_near_exact", oracle="""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         upper(text) || ' !! ' AS text
  FROM documents
), normed AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm_text
  FROM all_docs
)
SELECT sha256(norm_text) AS digest,
       CAST(count(*) AS BIGINT) AS n_dups,
       MIN(doc_id) AS keep_id
FROM normed GROUP BY 1 HAVING count(*) >= 2
""")
def dedup_near_exact(spark, sf_dir):
    """Near-exact dedup: exact digest-groupBy AFTER lowercase /
    punctuation-strip / whitespace-collapse normalization.  The test
    corpus ships pre-normalized, so the query unions each doc with an
    uppercased, punctuation-injected variant — normalization provably
    collapses every (original, variant) pair into one group, which the
    oracle reproduces value-for-value (digest included)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !! ")).alias("text"),
    )
    return T.exact_dedup_normalized(docs.unionAll(variants), "doc_id", "text")


@register("dedup_multi_signal", oracle="""
WITH RECURSIVE docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 250
), words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM docs
), """ + _SH0_SH + """, counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b FROM co
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
), cont AS (
  SELECT doc_a, doc_b FROM co
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / ca.n >= 0.8 OR common * 1.0 / cb.n >= 0.8
), wmix AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs
), hh AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM wmix
), bitsum AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) i
  GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bitsum GROUP BY 1
), simh AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), allpairs AS (
  SELECT doc_a, doc_b FROM jac
  UNION SELECT doc_a, doc_b FROM cont
  UNION SELECT doc_a, doc_b FROM simh
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM allpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM allpairs
), """ + _REACH + """
SELECT a AS doc_id, MIN(b) AS cluster_id
FROM reach GROUP BY a
""")
def dedup_multi_signal(spark, sf_dir):
    """Multi-signal dedup: the union of THREE detectors' pair evidence
    — exact Jaccard (>= 0.5), directional containment (>= 0.8, either
    direction), and portable SimHash (Hamming <= 3) — feeds ONE
    connected-components pass, so documents linked by any signal land
    in the same cluster.  This is the cascade real pipelines run
    (cheap signals vote, clustering unifies); every stage is the
    already-graded scale-safe plan (posting joins + pigeonhole chunk
    join + pointer-jump propagation), and the oracle recomputes all
    three signals + transitive closure in SQL.

    Runs on the doc_id < 250 slice: the composition is what this query
    grades (each detector is separately graded on the FULL corpus by
    dedup_jaccard_exact / dedup_containment / dedup_simhash_md5), and
    the slice keeps the three-detector + transitive-closure gate cost
    inside the correctness-gate time budget."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    # Jaccard + containment share one posting-list pass (the expensive
    # stages would otherwise run twice); SimHash is the third signal
    overlap = D.overlap_pair_signals(
        docs, "doc_id", "text", n=5,
        jaccard_threshold=0.5, containment_threshold=0.8,
    )
    simh = D.simhash_pairs(docs, "doc_id", "text", max_hamming=3, portable=True)
    pairs = overlap.union(simh.select("doc_a", "doc_b")).distinct()
    return D.duplicate_clusters(pairs)


# --- at-scale knob variants of the dedup pair generators.  Both were
# rows-only until round 13; they now run the PORTABLE md5 hash paths
# (operators/dedup.py minhash_lsh_pairs / simhash_pairs, both
# portable=True) so the knob semantics themselves — r=2 banding,
# Hamming<=2 pigeonhole — carry full value oracles.  The xxhash64 JVM
# fast paths remain the operators' defaults for production use. ---
@register("dedup_minhash_lsh_r2", oracle="""
WITH """ + _SHINGLES + """, counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), """ + _MINHASH_BAND_CANDIDATES + """, pairs AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs p
JOIN counts ca ON p.doc_a = ca.doc_id
JOIN counts cb ON p.doc_b = cb.doc_id
WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
""")
def dedup_minhash_lsh_r2(spark, sf_dir):
    """MinHash-LSH with the AT-SCALE banding knob engaged: r=2 rows
    per band (b=12) keeps buckets sparse — candidate count per bucket
    shrinks quadratically in band-key selectivity, the setting a
    100 TB corpus actually runs.  Candidate recall at j=0.5 is
    1-(1-j²)¹² ≈ 0.97 by design, but the OUTPUT is the deterministic
    set {band-colliding pairs} ∩ {Jaccard >= 0.5}: with the portable
    md5 minhashes (round 13 — was xxhash64, rows-only) the oracle
    reproduces the banding bit-for-bit and verifies candidates by
    posting-list Jaccard restricted to candidate pairs.  Subset +
    recall floor vs the exact pair set asserted in
    tests/test_dedup_edges.py."""
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, num_hashes=24, rows_per_band=2, threshold=0.5, portable=True)


@register("dedup_simhash", oracle=_SIMHASH_PAIRS + """\
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs at the TIGHT radius (Hamming <= 2, three
    pigeonhole chunks — fewer, wider chunks than dedup_simhash_md5's
    radius-3 knob, so band keys are more selective and buckets
    sparser: the setting a larger corpus runs).  Portable 60-bit
    md5-prefix fingerprints since round 13 (was xxhash64, rows-only),
    so the radius-2 semantics carry a full value oracle; the oracle
    recomputes fingerprints bit-by-bit and brute-forces pairs, while
    the Spark side stays pigeonhole-banded — never O(n²)."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           max_hamming=2, portable=True)


@register("dedup_semantic", oracle="""
WITH pl AS (
  SELECT p.p AS p,
         list((('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' ||
                                    CAST(j.j AS VARCHAR)), 1, 15))::BIGINT
               % 2001 - 1000) / 1000.0 ORDER BY j.j) AS coeffs
  FROM (SELECT unnest(generate_series(0, 5)) AS p) p
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
  GROUP BY 1
), sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                                             pl.coeffs) > 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS bucket_id
  FROM embeddings e CROSS JOIN pl
  GROUP BY 1
), close AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a
  JOIN sig b ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[]), 6) >= 0.4
), cnt AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_close FROM (
    SELECT id_a AS vec_id FROM close
    UNION ALL
    SELECT id_b AS vec_id FROM close
  ) GROUP BY 1
), dr AS (
  SELECT DISTINCT id_b AS vec_id FROM close
)
SELECT s.vec_id, s.bucket_id,
       CAST(coalesce(c.n_close, 0) AS BIGINT) AS n_close,
       dr.vec_id IS NOT NULL AS dropped
FROM sig s
LEFT JOIN cnt c USING (vec_id)
LEFT JOIN dr USING (vec_id)
""")
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup over the embeddings: partition
    the space into deterministic hyperplane sign buckets, exact cosine
    within each bucket, drop every vector with a lower-id neighbor at
    cosine >= 0.4 (keep-first).  The quadratic term is bounded by the
    largest bucket, never the corpus; bucket assignment, pair scores,
    and verdicts are all replayed in SQL — a full value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, "vec_id", "embedding",
                            dim=64, n_planes=6, threshold=0.4)


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


_JACCARD_ORACLE = """
WITH """ + _SHINGLE_PAIRS + """
SELECT doc_a, doc_b,
       round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
"""


@register("dedup_jaccard_exact", oracle=_JACCARD_ORACLE)
def dedup_jaccard_exact(spark, sf_dir):
    """Exact 5-gram Jaccard near-dup pairs via posting-list join."""
    return D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)


@register("dedup_jaccard_capped", oracle="""
WITH """ + _SHINGLES + """, shc AS (
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


@register("dedup_simhash_md5", oracle=_SIMHASH_PAIRS + """\
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


_CLUSTERS_ORACLE = _SHINGLE_REACH + """
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


@register("dedup_incremental", oracle=_NEW_BATCH_UNSEEN)
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
WITH """ + _SHINGLES + """, counts AS (
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


@register("dedup_embedding_cosine", oracle="""
WITH RECURSIVE sim AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6) >= 0.4
), """ + _SIM_EDGES + """, """ + _REACH + """
SELECT a AS vec_id, MIN(b) AS cluster_id
FROM reach GROUP BY a
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup dedup: blocked exact cosine pairs at
    the threshold -> connected components -> (vec_id, cluster_id)
    canonical-representative assignment.  The pair stage is the
    hash-block equi-join (no cartesian), the clustering is iterative
    min-label propagation — both the scale-safe plans already graded
    under ``embedding_cosine_pairs`` / ``dedup_clusters``; this entry
    is their composition, the actual "drop near-dup embeddings"
    pipeline a training-data run would execute.  Oracle: recursive
    transitive-closure CTE over the same pair predicate."""
    from ..operators import dedup as D

    pairs = S.cosine_pairs_blocked(
        _emb(spark, sf_dir), "vec_id", "embedding", threshold=0.4
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return D.duplicate_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


@register("dedup_tf_cosine", oracle="""
WITH base AS (
  SELECT doc_id AS doc, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS gram
  FROM base, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
), tf AS (
  SELECT doc, gram, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2
), capped AS (
  SELECT * FROM tf WHERE gram NOT IN (
    SELECT gram FROM tf GROUP BY gram HAVING count(*) > 20)
), norms AS (
  SELECT doc, sum(tf * tf) AS ss FROM capped GROUP BY 1
), dots AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.tf * b.tf) AS dot
  FROM capped a JOIN capped b ON a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(dot / (sqrt(na.ss) * sqrt(nb.ss)), 6) AS cosine_tf
FROM dots
JOIN norms na ON na.doc = dots.doc_a
JOIN norms nb ON nb.doc = dots.doc_b
WHERE dot / (sqrt(na.ss) * sqrt(nb.ss)) >= 0.5
""")
def dedup_tf_cosine(spark, sf_dir):
    """Weighted (TF) trigram cosine near-dup pairs via inverted-index
    join — the multiset cousin of Jaccard; integer dot products give
    exact oracle parity, df cap 20 bounds the worst posting list."""
    from ..operators.dedup import tf_cosine_pairs

    return tf_cosine_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5, max_doc_freq=20,
    )


@register("dedup_prefix_key", oracle="""
WITH norm AS (
  SELECT doc_id, n_chars,
         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 64)
           AS prefix_key
  FROM documents
), ranked AS (
  SELECT doc_id, prefix_key,
         row_number() OVER (PARTITION BY prefix_key
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY prefix_key) AS bucket_size
  FROM norm
)
SELECT doc_id, prefix_key, CAST(bucket_size AS BIGINT) AS bucket_size
FROM ranked WHERE rn = 1
""")
def dedup_prefix_key(spark, sf_dir):
    """Prefix-key dedup: normalize (lowercase, whitespace-collapse,
    trim), fingerprint on the first 64 chars, keep the longest doc per
    bucket (doc_id tiebreak).  The cheap first rung of a dedup cascade
    — catches boilerplate/mirror-page families for one shuffle on a
    64-byte key before any shingling runs.  Window is keyed by the
    fingerprint (bucket-sized partitions)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", "n_chars",
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
            1, 64).alias("prefix_key"),
    )
    w = Window.partitionBy("prefix_key").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("prefix_key")
    return (
        norm.withColumn("rn", F.row_number().over(w))
        .withColumn("bucket_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select("doc_id", "prefix_key",
                F.col("bucket_size").cast("bigint").alias("bucket_size"))
    )


_JMICRO = "CAST(CAST(round(jaccard, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


_SWEEP_T = [500000, 600000, 700000, 800000, 900000]


@register("dedup_threshold_sweep", oracle=f"""
WITH j AS (
  SELECT doc_a, doc_b, {_JMICRO} AS jm
  FROM ({_JACCARD_ORACLE}) q
), t AS (
  SELECT unnest([{", ".join(str(t) for t in _SWEEP_T)}]) AS t_micro
)
SELECT CAST(t.t_micro AS BIGINT) AS t_micro,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT j.doc_b) AS BIGINT) AS n_docs_removed
FROM t JOIN j ON j.jm >= t.t_micro
GROUP BY 1
""")
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold tuning report: for each candidate Jaccard
    threshold, the surviving pair count and the upper bound on docs
    removed (distinct higher-id pair members) — the sweep a pipeline
    owner reads before committing a dedup pass.  ONE posting-list
    pair computation (operators/dedup.py jaccard_pairs_exact — never
    re-run per threshold), then a 5-row explode + aggregate over the
    pair set."""
    pairs = D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)
    swept = pairs.select(
        "doc_b", F.expr(_JMICRO).alias("jm"),
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_T])).alias("t_micro"))
    return (
        swept.filter(F.col("jm") >= F.col("t_micro"))
        .groupBy(F.col("t_micro").cast("bigint").alias("t_micro"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
             F.countDistinct("doc_b").cast("bigint")
             .alias("n_docs_removed"))
    )


@register("dedup_cluster_size_histogram", oracle=f"""
WITH sizes AS (
  SELECT cluster_id, COUNT(*) AS sz
  FROM ({_CLUSTERS_ORACLE}) c
  GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1
""")
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution — the dedup report a
    pipeline owner reads to decide between keep-one and keep-none
    policies: exact-Jaccard pairs -> connected components
    (operators/dedup.py duplicate_clusters, pointer-jumping) -> two
    bounded aggregates.  Singleton docs count as size-1 clusters."""
    pairs = D.jaccard_pairs_exact(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=5, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(
        F.col("sz").cast("bigint").alias("cluster_size")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))


_LSH_AUDIT_ORACLE = (
    _JACCARD_ORACLE[:_JACCARD_ORACLE.index("SELECT doc_a,")]
    .rstrip()
    .rstrip(")")
    + f"""), sim AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
), {_MINHASH_BAND_CANDIDATES}, ne AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM sim
), nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand
), nv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified
  FROM cand JOIN sim ON sim.doc_a = cand.doc_a
                    AND sim.doc_b = cand.doc_b
)
SELECT n_exact, n_cand, n_verified,
       CAST(CASE WHEN n_exact > 0
            THEN {_rdiv_sql("1000000 * n_verified", "n_exact")}
            END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_cand > 0
            THEN {_rdiv_sql("1000000 * n_verified", "n_cand")}
            END AS BIGINT) AS cand_precision_ppm
FROM ne CROSS JOIN nc CROSS JOIN nv
"""
)


@register("dedup_lsh_recall_audit", oracle=_LSH_AUDIT_ORACLE)
def dedup_lsh_recall_audit(spark, sf_dir):
    """Measured LSH quality against ground truth: candidate pairs
    from the PORTABLE md5 MinHash with 2-row bands
    (operators/dedup.py minhash_lsh_pairs, portable=True — recall < 1 by
    design, unlike the r=1 production path) versus the exact Jaccard
    pair set; recall and candidate precision in rounded ppm.  The
    audit one runs before trusting an LSH configuration at 100 TB —
    both pair generators are posting-list/band joins, never n²."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.jaccard_pairs_exact(
        docs, "doc_id", "text", n=5, threshold=0.5
    ).select("doc_a", "doc_b")
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, num_hashes=24, rows_per_band=2,
        portable=True, verify=False)
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    nv = cand.join(exact, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_verified"))
    out = ne.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nv))
    return out.select(
        "n_exact", "n_cand", "n_verified",
        F.when(F.col("n_exact") > 0,
               F.expr(_RDIV.format(a="1000000 * n_verified",
                                   b="n_exact")))
        .cast("bigint").alias("recall_ppm"),
        F.when(F.col("n_cand") > 0,
               F.expr(_RDIV.format(a="1000000 * n_verified",
                                   b="n_cand")))
        .cast("bigint").alias("cand_precision_ppm"),
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


_WINNOW_PAIR_DF_CAP = 50


_WINNOW_PAIR_MIN_SHARED = 10


@register("dedup_winnowing_pairs", oracle=f"""
WITH fps AS ({_WINNOW_SQL}),
h AS (
  SELECT DISTINCT doc_id, fp_hash FROM fps
), keep AS (
  SELECT fp_hash FROM h
  GROUP BY 1 HAVING COUNT(*) <= {_WINNOW_PAIR_DF_CAP}
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM h GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM h a
  JOIN keep k ON k.fp_hash = a.fp_hash
  JOIN h b ON b.fp_hash = a.fp_hash AND b.doc_id > a.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_WINNOW_PAIR_MIN_SHARED}
)
SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
       CAST({_rdiv_sql("1000000 * n_shared",
                       "CASE WHEN sa.n_fp < sb.n_fp THEN sa.n_fp "
                       "ELSE sb.n_fp END")} AS BIGINT) AS containment_ppm
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
""")
def dedup_winnowing_pairs(spark, sf_dir):
    """Fingerprint-overlap near-dup candidate pairs: winnowing
    fingerprints joined hash-to-hash (posting lists, never all-pairs),
    document frequency capped at {cap} docs per hash — the same
    stop-shingle guard as dedup_jaccard_capped: a fingerprint shared
    by hundreds of documents is non-discriminative and its posting
    list would multiply quadratically at 100 TB.  Pairs sharing >=
    {minshared} distinct fingerprints are emitted with a rounded
    containment score vs the smaller document.  Unlike MinHash this
    candidate generator is DETERMINISTIC: a shared run of >= 8 chars
    always surfaces.""".format(cap=_WINNOW_PAIR_DF_CAP,
                               minshared=_WINNOW_PAIR_MIN_SHARED)
    fps = winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")
    # the (doc, hash) posting list feeds FOUR plan branches (df cap,
    # sizes, both join sides) — materialize the compact distinct set
    # once instead of re-running the fingerprint scan per branch
    # (measured 79 s -> ~8 s at sf1)
    h = (fps.select("doc_id", "fp_hash").distinct()
         .localCheckpoint(eager=True))
    keep = (h.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _WINNOW_PAIR_DF_CAP)
            .select("fp_hash"))
    sizes = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    capped = h.join(keep, "fp_hash")
    # the posting-list self-join must SHUFFLE on fp_hash: both sides
    # are corpus-sized, but the checkpointed list's estimated stats
    # can sneak under the broadcast threshold (at sf10 Spark tried to
    # broadcast it and blew the 8g driver) — the hint declares the
    # only plan that survives 100 TB
    # BOTH sides probe the capped list: membership of fp_hash in
    # `keep` restricts the pair set identically whether one side or
    # both are capped (the join key itself must survive the cap), so
    # probing `capped` twice scans the smaller relation on both sides
    # — measurably less shuffle than capped-vs-uncapped (r09 verdict
    # ask #4; oracle unchanged, same set)
    pairs = (
        capped.select(F.col("doc_id").alias("doc_a"), "fp_hash")
        .hint("shuffle_hash")
        .join(capped.select(F.col("doc_id").alias("doc_b"), "fp_hash")
              .hint("shuffle_hash"),
              "fp_hash")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_PAIR_MIN_SHARED)
    )
    return (
        pairs
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_fp").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_fp").alias("n_b")), "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared", "n_a", "n_b",
            F.expr(_RDIV.format(
                a="1000000 * n_shared",
                b="CASE WHEN n_a < n_b THEN n_a ELSE n_b END"))
            .cast("bigint").alias("containment_ppm"),
        )
    )


@register("dedup_url_canonical", oracle=f"""
WITH u AS ({_URL_SQL}),
p AS (
  SELECT doc_id,
         regexp_extract(url, '{_RE_SCHEME}', 1) AS scheme,
         CASE WHEN lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)) LIKE 'www.%'
              THEN substr(lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)), 5)
              ELSE lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)) END AS host_norm,
         regexp_extract(regexp_extract(url, '{_RE_HOSTPORT}', 1),
                        '{_RE_PORT}', 1) AS port_s,
         regexp_extract(url, '{_RE_PATH}', 1) AS path,
         regexp_extract(url, '{_RE_QUERY.replace("'", "''")}', 1) AS q
  FROM u
), c AS (
  SELECT doc_id,
         scheme || '://' || host_norm
         || (CASE WHEN port_s = '' THEN ''
             WHEN scheme = 'https' AND port_s = '443' THEN ''
             WHEN scheme = 'http' AND port_s = '80' THEN ''
             ELSE ':' || port_s END)
         || (CASE WHEN path <> '/' AND path LIKE '%/'
             THEN substr(path, 1, len(path) - 1) ELSE path END)
         || (CASE WHEN q = '' THEN '' ELSE '?' ||
             array_to_string(list_sort(string_split(q, '&')), '&') END)
           AS canon
  FROM p
)
SELECT canon AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS survivor_id
FROM c GROUP BY 1
""")
def dedup_url_canonical(spark, sf_dir):
    """Canonical-URL dedup — web-crawl dedup rung 0, BEFORE any
    content hashing: lowercase host, strip www, drop default ports
    (scheme-aware), strip the trailing path slash, SORT query
    parameters, drop the fragment; group by the canonical form and
    keep the smallest doc_id.  Every rule is a pure string transform
    (fully codegen'd); the grouped count is the only shuffle, keyed
    by canonical URL — at 100 TB this is one map pass + one
    combine-heavy aggregate, no pairwise comparison anywhere (the
    contrast with similarity dedup: canonicalization makes duplicate
    detection EXACT and linear)."""
    u = _urls(spark, sf_dir)
    hostport = F.regexp_extract("url", _RE_HOSTPORT, 1)
    host = F.regexp_extract(hostport, _RE_HOST, 1)
    host_norm = F.when(
        F.lower(host).startswith("www."),
        F.substring(F.lower(host), 5, 2 ** 30)).otherwise(F.lower(host))
    p = u.select(
        "doc_id",
        F.regexp_extract("url", _RE_SCHEME, 1).alias("scheme"),
        host_norm.alias("host_norm"),
        F.regexp_extract(hostport, _RE_PORT, 1).alias("port_s"),
        F.regexp_extract("url", _RE_PATH, 1).alias("path"),
        F.regexp_extract("url", _RE_QUERY, 1).alias("q"),
    )
    canon = F.concat(
        F.col("scheme"), F.lit("://"), F.col("host_norm"),
        F.when(F.col("port_s") == "", F.lit(""))
        .when((F.col("scheme") == "https") & (F.col("port_s") == "443"),
              F.lit(""))
        .when((F.col("scheme") == "http") & (F.col("port_s") == "80"),
              F.lit(""))
        .otherwise(F.concat(F.lit(":"), F.col("port_s"))),
        F.when((F.col("path") != "/") & F.col("path").endswith("/"),
               F.expr("substring(path, 1, length(path) - 1)"))
        .otherwise(F.col("path")),
        F.when(F.col("q") == "", F.lit(""))
        .otherwise(F.concat(
            F.lit("?"),
            F.array_join(F.sort_array(F.split("q", "&")), "&"))),
    )
    return (p.select("doc_id", canon.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_variants"),
                 F.min("doc_id").cast("bigint").alias("survivor_id")))


@register("dedup_prefix_filter_jaccard", oracle=_JACCARD_ORACLE)
def dedup_prefix_filter_jaccard(spark, sf_dir):
    """The exact 5-gram Jaccard pair set AGAIN — but generated through
    PREFIX FILTERING (operators/dedup.py prefix_filter_jaccard_pairs,
    PPJoin family): shingles ordered globally rarest-first, only the
    first n - ceil(t·n) + 1 per document join for candidates, every
    candidate exact-verified.  Sharing dedup_jaccard_exact's oracle IS
    the claim: a different physical strategy, the identical answer —
    the third member of the same-answer family (posting-list join,
    MinHash-LSH r=1, prefix filter), each a different point on the
    candidates-vs-cost curve.  At 100 TB prefix filtering is the
    exact-output option when LSH's probabilistic miss bound is not
    acceptable: the rare-first order makes the joined lists the
    SHORTEST ones (the funnel audit below grades the pruning power)."""
    return D.prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=5, threshold=0.5)


@register("dedup_prefix_filter_funnel", oracle=f"""
WITH {_SHINGLES}, counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), posting AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_posting FROM (
    SELECT DISTINCT a.doc_id, b.doc_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle
     AND a.doc_id < b.doc_id)
), dfq AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1
), ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
           ORDER BY d.df, s.shingle) AS rk
  FROM sh s JOIN dfq d ON d.shingle = s.shingle
), pref AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN counts c ON c.doc_id = r.doc_id
  WHERE r.rk <= c.n - (50 * c.n + 99) // 100 + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle
   AND a.doc_id < b.doc_id
), ncand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_prefix FROM cand
), verified AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified FROM (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS common
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY 1, 2
  ) cm JOIN counts ca ON ca.doc_id = cm.doc_a
       JOIN counts cb ON cb.doc_id = cm.doc_b
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
)
SELECT n_posting, n_prefix, n_verified,
       CAST({_rdiv_sql("1000000 * (n_posting - n_prefix)", "n_posting")}
            AS BIGINT) AS pruned_ppm
FROM posting, ncand, verified
""")
def dedup_prefix_filter_funnel(spark, sf_dir):
    """The prefix filter's pruning power, MEASURED: candidate pairs
    from the full posting-list join (what dedup_jaccard_exact
    verifies) vs candidates surviving the rarest-first prefix join vs
    final verified pairs — the three funnel stages of a set-similarity
    join, graded as one exact row.  ``pruned_ppm`` is the fraction of
    pair verifications the prefix theorem eliminated with zero recall
    loss; this is the number that decides whether the exact path is
    affordable at 100 TB or the pipeline must drop to MinHash."""
    # eager localCheckpoint, not persist — blocks release with the
    # result plan instead of leaking across the shared bench session
    # (r09 ADVICE; pattern + cluster-scale caveat documented in the
    # operators/dedup.py module docstring)
    sh = (D.shingles(load_table(spark, sf_dir, "documents"), "doc_id", "text", 5)
          .localCheckpoint(eager=True))
    # merge (sort-merge) hints on every corpus-sized join: the
    # checkpointed shingle set's estimated stats can sneak under the
    # broadcast threshold — at sf10 Spark tried to broadcast a side
    # and blew the 8g driver (same fix as prefix_filter_jaccard_pairs)
    a = sh.select(F.col("doc").alias("doc_a"), "shingle").hint("merge")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle").hint("merge")
    posting = (a.join(b, "shingle")
               .filter(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b").distinct()
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_posting")))
    # the candidate definition comes from the SAME helper the operator
    # uses (operators/dedup.py jaccard_prefix_lists) — the funnel can
    # never drift from the query it grades
    pref, counts = D.jaccard_prefix_lists(sh, 0.5)
    pa = pref.select(F.col("doc").alias("doc_a"), "shingle").hint("merge")
    pb = pref.select(F.col("doc").alias("doc_b"), "shingle").hint("merge")
    cand = (pa.join(pb, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    cand = cand.localCheckpoint(eager=True)
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_prefix"))
    x = sh.select(F.col("doc").alias("doc_a"),
                  F.col("shingle").alias("s")).hint("merge")
    y = sh.select(F.col("doc").alias("doc_b"),
                  F.col("shingle").alias("s")).hint("merge")
    common = (cand.hint("merge").join(x, "doc_a").join(y, ["doc_b", "s"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("common")))
    ca = counts.select(F.col("doc").alias("doc_a"),
                       F.col("n_sh").alias("na")).hint("merge")
    cb = counts.select(F.col("doc").alias("doc_b"),
                       F.col("n_sh").alias("nb")).hint("merge")
    verified = (common.join(ca, "doc_a").join(cb, "doc_b")
                .filter(F.col("common") * F.lit(1.0)
                        / (F.col("na") + F.col("nb") - F.col("common"))
                        >= 0.5)
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("n_verified")))
    return (posting.crossJoin(F.broadcast(ncand))
            .crossJoin(F.broadcast(verified))
            .select("n_posting", "n_prefix", "n_verified",
                    F.expr(_RDIV.format(
                        a="1000000 * (n_posting - n_prefix)",
                        b="n_posting")).cast("bigint")
                    .alias("pruned_ppm")))


#: shared shingle CTEs: 5-gram word shingles, prior corpus = even
#: doc_ids (the previous snapshot), new crawl = odd doc_ids
_SNAPSHOT_CTE = "\n" + _SHINGLES + """, store AS (
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


def _snapshots(spark, sf_dir):
    """``(prior, new)``: the prior corpus (even ``doc_id``) and the new
    crawl (odd ``doc_id``)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1))


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
    prior, new = _snapshots(spark, sf_dir)
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
    prior, new = _snapshots(spark, sf_dir)
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


@register("dedup_cross_snapshot_bloom", oracle=f"""
WITH {_SNAPSHOT_CTE}
SELECT doc_id, n_shingles, n_seen, containment_ppm,
       containment_ppm >= 800000 AS is_dup
FROM contain
""")
def dedup_cross_snapshot_bloom(spark, sf_dir):
    """Cross-snapshot incremental dedup THROUGH the store's Bloom
    filter: identical output to ``dedup_cross_snapshot`` (the oracle
    is literally the same exact-containment SQL — Bloom filters have
    no false negatives), but new-crawl shingles that fail the Bloom
    probe are dropped BEFORE the store sort-merge join, so only the
    pass fraction reaches it.  At 100 TB the store's Bloom is a
    PERSISTED (w, word) table (num_bits/64 rows — 1 M rows / ~16 MiB
    at the 2^26 cap — built once per snapshot with the store,
    bit_or-merged
    across shards), broadcast to probe the new crawl, and the store
    join moves roughly (containment + fp_rate) of the new crawl
    instead of all of it — ``bloom_store_fp_audit`` measures that
    fp_rate.  Probe cost is flat in filter size (the table path),
    so sizing ``_sized_bits`` up never slows the probe."""
    prior, new = _snapshots(spark, sf_dir)
    # consumers: words build, exact verify join (module
    # materialization pattern).  The sizing count rides the checkpoint
    # job as an observe() metric (the store is DISTINCT, so count(*)
    # is its key cardinality) — sizing happens at store-build time in
    # production (the store's cardinality is known when it is
    # written), and folding it here drops a whole driver action per
    # query (r16 verdict ask #1 action-count discipline).
    from pyspark.sql import Observation

    obs = Observation()
    store = (D.shingles(prior, "doc_id", "text", 5)
             .select("shingle").distinct()
             .observe(obs, F.count(F.lit(1)).alias("n_keys"))
             .localCheckpoint(eager=True))
    bits = _sized_bits(int(obs.get["n_keys"] or 0))
    # portable=False (seeded xxhash64 positions): the screen's OUTPUT
    # is invariant to the hash family (no false negatives either way
    # — the oracle is the exact containment SQL), and xxhash64 drops
    # the concat+md5+substring+conv chain the build pays per store
    # key and the probe pays 5x per new-crawl (doc, shingle) row —
    # the dominant CPU of this query's filter stage.  The PORTABLE
    # family stays on ``bloom_store_fp_audit``, whose oracle rebuilds
    # the exact bit content; build and probe flags travel together.
    words = bloom_words_table(store, "shingle", bits, _K,
                              portable=False)
    out = D.cross_snapshot_containment(
        new, store, "doc_id", "text", n=5,
        store_bloom=words, bloom_bits=bits, bloom_hashes=_K,
        bloom_portable=False)
    return out.withColumn("is_dup", F.col("containment_ppm") >= 800000)


@register("er_blocking_components", oracle="""
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), keyed AS (
  SELECT doc_id,
         array_to_string(w[1:8], ' ') AS k1,
         array_to_string(w[-8:], ' ') AS k2
  FROM words WHERE len(w) >= 16
), b1 AS (
  SELECT k1 AS k, doc_id FROM keyed
), b2 AS (
  SELECT k2 AS k, doc_id FROM keyed
), ok1 AS (
  SELECT k FROM b1 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 50
), ok2 AS (
  SELECT k FROM b2 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 50
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM b1 a JOIN b1 b ON b.k = a.k AND b.doc_id > a.doc_id
  JOIN ok1 ON ok1.k = a.k
  UNION
  SELECT DISTINCT a.doc_id, b.doc_id
  FROM b2 a JOIN b2 b ON b.k = a.k AND b.doc_id > a.doc_id
  JOIN ok2 ON ok2.k = a.k
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), """ + _REACH + """
SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
""")
def er_blocking_components(spark, sf_dir):
    """Multi-key entity-resolution blocking: candidate pairs from TWO
    independent blocking keys (first-8-words and last-8-words of each
    document), each block capped at 50 members (the standard ER guard
    — an oversized block is a useless key, and the cap bounds
    within-block pair fanout at 100 TB), unioned and resolved into
    components with the pointer-jumping connected-components operator
    (operators/dedup.py duplicate_clusters).  cluster_id = min
    reachable doc id."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.split("text", " ").alias("w"))
    keyed = (
        words.filter(F.size("w") >= 16)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("w", 1, 8)).alias("k1"),
            F.concat_ws(" ", F.slice("w", -8, 8)).alias("k2"),
        )
    )

    def _block_pairs(col):
        b = keyed.select(F.col(col).alias("k"), "doc_id")
        ok = (b.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
              .filter((F.col("cnt") >= 2) & (F.col("cnt") <= 50))
              .select("k"))
        bb = b.join(ok, "k")
        return (
            bb.select("k", F.col("doc_id").alias("doc_a"))
            .join(bb.select("k", F.col("doc_id").alias("doc_b")), "k")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    pairs = _block_pairs("k1").unionByName(
        _block_pairs("k2")).distinct()
    out = duplicate_clusters(pairs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"))


_ER_BLOCK_MIN, _ER_BLOCK_MAX = 2, 50


_ER_SCORE_MIN = 4


@register("er_match_scores", oracle=f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS w
  FROM documents
), keyed AS (
  SELECT doc_id, lang, source, n_chars,
         array_to_string(w[1:8], ' ') AS k1,
         array_to_string(w[9:16], ' ') AS mid8
  FROM w WHERE len(w) >= 16
), ok AS (
  SELECT k1 FROM keyed
  GROUP BY 1 HAVING COUNT(*) BETWEEN {_ER_BLOCK_MIN} AND {_ER_BLOCK_MAX}
), feat AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(CASE WHEN a.lang = b.lang THEN 4 ELSE -3 END AS BIGINT)
           AS w_lang,
         CAST(CASE WHEN a.source = b.source THEN 2 ELSE -1 END AS BIGINT)
           AS w_source,
         CAST(CASE WHEN abs(a.n_chars - b.n_chars) <= 20
              THEN 3 ELSE -2 END AS BIGINT) AS w_len,
         CAST(CASE WHEN a.mid8 = b.mid8 THEN 5 ELSE 0 END AS BIGINT)
           AS w_mid
  FROM keyed a
  JOIN ok ON ok.k1 = a.k1
  JOIN keyed b ON b.k1 = a.k1 AND b.doc_id > a.doc_id
)
SELECT doc_a, doc_b, w_lang, w_source, w_len, w_mid,
       w_lang + w_source + w_len + w_mid AS match_score
FROM feat
WHERE w_lang + w_source + w_len + w_mid >= {_ER_SCORE_MIN}
""")
def er_match_scores(spark, sf_dir):
    """Fellegi-Sunter-style match scoring — the classification rung
    that follows blocking (er_blocking_components): within first-8-
    words blocks (size-capped {lo}..{hi}, the standard ER guard
    against useless keys), each candidate pair gets integer
    agreement/disagreement weights per feature (language, source,
    length band, middle-8-words) and pairs above the decision
    threshold are emitted with their weight vector.  Block-bounded
    pair fanout; all-integer weights so the twin matches exactly.
    """.format(lo=_ER_BLOCK_MIN, hi=_ER_BLOCK_MAX)
    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        docs.select("doc_id", "lang", "source", "n_chars",
                    F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 16)
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.array_join(F.slice("w", 1, 8), " ").alias("k1"),
            F.array_join(F.slice("w", 9, 8), " ").alias("mid8"),
        )
    )
    ok = (keyed.groupBy("k1").agg(F.count(F.lit(1)).alias("bn"))
          .filter(F.col("bn").between(_ER_BLOCK_MIN, _ER_BLOCK_MAX))
          .select("k1"))
    a = keyed.select(F.col("doc_id").alias("doc_a"),
                     F.col("lang").alias("lang_a"),
                     F.col("source").alias("source_a"),
                     F.col("n_chars").alias("len_a"),
                     F.col("mid8").alias("mid_a"), "k1")
    b = keyed.select(F.col("doc_id").alias("doc_b"),
                     F.col("lang").alias("lang_b"),
                     F.col("source").alias("source_b"),
                     F.col("n_chars").alias("len_b"),
                     F.col("mid8").alias("mid_b"), "k1")
    feat = (
        a.join(ok, "k1")
        .join(b, "k1")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .select(
            "doc_a", "doc_b",
            F.when(F.col("lang_a") == F.col("lang_b"), 4).otherwise(-3)
            .cast("bigint").alias("w_lang"),
            F.when(F.col("source_a") == F.col("source_b"), 2).otherwise(-1)
            .cast("bigint").alias("w_source"),
            F.when(F.abs(F.col("len_a") - F.col("len_b")) <= 20, 3)
            .otherwise(-2).cast("bigint").alias("w_len"),
            F.when(F.col("mid_a") == F.col("mid_b"), 5).otherwise(0)
            .cast("bigint").alias("w_mid"),
        )
    )
    score = (F.col("w_lang") + F.col("w_source") + F.col("w_len")
             + F.col("w_mid"))
    return (
        feat.select("doc_a", "doc_b", "w_lang", "w_source", "w_len",
                    "w_mid", score.alias("match_score"))
        .filter(F.col("match_score") >= _ER_SCORE_MIN)
    )


@register("bloom_prefilter_join", oracle="""
SELECT l.l_suppkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE s.s_nationkey < 5
GROUP BY l.l_suppkey
""")
def bloom_prefilter_join(spark, sf_dir):
    """Selective fact-dim join with an explicit Bloom prefilter: the
    dimension subset's keys build a constant-size Bloom filter
    (distributed bit_or aggregate), the fact side is pruned MAP-SIDE
    before its shuffle, and the exact join removes any false
    positives — so results are bit-identical to the plain join (the
    oracle) while the fact shuffle carries only ~matching rows."""
    from ..operators.bloom import bloom_prefilter

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5) \
        .select("s_suppkey")
    pruned = bloom_prefilter(l, "l_suppkey", s, "s_suppkey")
    return (
        pruned.join(s, pruned.l_suppkey == s.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


#: DuckDB twin of operators/bloom.py _portable_positions /
#: bloom_words_table / bloom_pass_keys over the dedup_cross_snapshot
#: split: k=5 md5-seeded positions, 2^20 bits, bit 63 CASEd around
#: the signed-shift overflow both engines share (a lesson from
#: approx_quantile_logbins)
_BLOOM_CTE = f"""
{_BLOOM_WORDS}, shardpos AS (
  SELECT ('0x' || substr(md5('shard:' || shingle), 1, 15))::BIGINT % 4
           AS shard_id, pos
  FROM spos
), shardwords AS (
  SELECT shard_id, CAST(pos // 64 AS BIGINT) AS w,
         CAST(bit_or(CASE WHEN pos % 64 = 63
                          THEN (-9223372036854775807)::BIGINT - 1
                          ELSE 1::BIGINT << CAST(pos % 64 AS INT) END)
              AS BIGINT) AS word
  FROM shardpos GROUP BY 1, 2
), merged AS (
  SELECT w, CAST(bit_or(word) AS BIGINT) AS word
  FROM shardwords GROUP BY 1
), mism AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatch
  FROM bloom b FULL OUTER JOIN merged m USING (w)
  WHERE COALESCE(b.word, 0) != COALESCE(m.word, 0)
), probe_keys AS (
  SELECT DISTINCT shingle FROM news
), ppos AS (
  SELECT p.shingle,
         ('0x' || substr(md5(i::VARCHAR || ':' || p.shingle), 1, 15))
           ::BIGINT % {_NUM_BITS} AS pos
  FROM probe_keys p, seeds
), hits AS (
  SELECT p.shingle, COUNT(*) AS nhit
  FROM ppos p JOIN bloom b ON CAST(p.pos // 64 AS BIGINT) = b.w
   AND ((CASE WHEN p.pos % 64 = 63
              THEN (-9223372036854775807)::BIGINT - 1
              ELSE 1::BIGINT << CAST(p.pos % 64 AS INT) END)
        & b.word) != 0
  GROUP BY 1
), pass AS (
  SELECT shingle FROM hits WHERE nhit = {_K}
), truth AS (
  SELECT shingle FROM probe_keys INTERSECT SELECT shingle FROM store
)"""


@register("bloom_store_fp_audit", oracle=f"""
WITH {_SNAPSHOT_CTE},
{_BLOOM_CTE}
SELECT
  CAST((SELECT COUNT(*) FROM store) AS BIGINT) AS n_store,
  CAST((SELECT COUNT(*) FROM probe_keys) AS BIGINT) AS n_probes,
  CAST((SELECT COUNT(*) FROM pass) AS BIGINT) AS n_pass,
  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
  (SELECT COUNT(*) FROM truth t JOIN pass p USING (shingle))
    = (SELECT COUNT(*) FROM truth) AS no_false_negatives,
  CAST(((SELECT COUNT(*) FROM pass) - (SELECT COUNT(*) FROM truth))
       * 1000000
       // GREATEST((SELECT COUNT(*) FROM probe_keys)
                   - (SELECT COUNT(*) FROM truth), 1)
    AS BIGINT) AS fp_ppm,
  (SELECT n_mismatch FROM mism) = 0 AS shards_match
""")
def bloom_store_fp_audit(spark, sf_dir):
    """One-row audit of the portable Bloom membership store over the
    dedup_cross_snapshot split: the store's md5-seeded (w, word) table is
    built single-pass AND by bit_or-merging four md5-sharded builds
    (shards_match proves the merge algebra — the property that lets
    per-day word tables fold into the corpus filter at rest), then
    every distinct new-crawl shingle probes it.  Graded outputs:
    pass/true counts, no_false_negatives (the theorem, checked), and
    fp_ppm — the measured false-positive rate among true negatives,
    i.e. the fraction of absent shingles the
    ``dedup_cross_snapshot_bloom`` prefilter would STILL shuffle.
    That number (vs the ~(1-e^{{-kn/m}})^k prediction) is what sizes
    num_bits for a real snapshot; when the store outgrows the filter
    it degrades toward 1e6 ppm — visibly, here, not as a silent OOM
    or slowdown.

    The false-positive rate, the number that sizes num_bits at 100 TB,
    is value-graded rather than estimated from the (1-e^{-kn/m})^k
    formula."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", 5)
    # checkpoint budget (the sf10 OOM lesson): exactly TWO
    # corpus-sized frames live at once — store and news — same as the
    # proven dedup_cross_snapshot funnel; everything else is sketch-sized
    # consumers: words build, shard-words build, flags join, n_store
    store = (sh.filter(F.col("doc") % 2 == 0)
             .select("shingle").distinct()
             .localCheckpoint(eager=True))
    # consumers: probe, flags join
    news = (sh.filter(F.col("doc") % 2 == 1)
            .select("shingle").distinct()
            .localCheckpoint(eager=True))

    # single-pass build AND single-pass sharded build (shard= groups
    # one pass into 4 word tables; unioning 4 filtered builds would
    # scan the store 5x)
    shard_id = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col("shingle"))), 1, 15),
            16, 10).cast("bigint"),
        F.lit(4))
    # <= 16 K rows, two consumers (merge proof + probe): checkpoint
    # is cheap and saves a full store re-scan
    words = bloom_words_table(store, "shingle", _NUM_BITS, _K)\
        .localCheckpoint(eager=True)
    merged = (bloom_words_table(store, "shingle", _NUM_BITS, _K,
                                shard=shard_id)
              .groupBy("w").agg(F.bit_or("word").alias("word")))
    mism = (words.withColumnRenamed("word", "g")
            .join(merged.withColumnRenamed("word", "m"), "w",
                  "full_outer")
            .filter(F.coalesce("g", F.lit(0))
                    != F.coalesce("m", F.lit(0)))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_mismatch")))

    passing = bloom_pass_keys(news, "shingle", words, _NUM_BITS, _K)
    # ONE flags pass computes every probe-side count: each probe
    # shingle left-joins its store membership and its Bloom verdict,
    # then a single aggregate folds them — no per-count joins, no
    # extra materializations (sort-merge: all three sides uncapped)
    flags = (
        news.hint("merge")
        .join(store.withColumn("in_store", F.lit(1)).hint("merge"),
              "shingle", "left")
        .join(passing.withColumn("passed", F.lit(1)).hint("merge"),
              "shingle", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.coalesce(F.sum("passed"), F.lit(0)).cast("bigint")
            .alias("n_pass"),
            F.coalesce(F.sum("in_store"), F.lit(0)).cast("bigint")
            .alias("n_true"),
            F.coalesce(
                F.sum(((F.col("in_store") == 1)
                       & (F.col("passed") == 1)).cast("bigint")),
                F.lit(0)).cast("bigint").alias("n_true_pass"),
        ))
    n_store = store.agg(F.count(F.lit(1)).cast("bigint")
                        .alias("n_store"))
    return (n_store
            .crossJoin(F.broadcast(flags))
            .crossJoin(F.broadcast(mism))
            .select(
                "n_store", "n_probes", "n_pass", "n_true",
                (F.col("n_true_pass") == F.col("n_true"))
                .alias("no_false_negatives"),
                F.expr("(n_pass - n_true) * 1000000 "
                       "DIV GREATEST(n_probes - n_true, 1L)")
                .cast("bigint").alias("fp_ppm"),
                (F.col("n_mismatch") == 0).alias("shards_match")))


#: DuckDB twin of the two-generation build + rotated probe: gen0 =
#: doc_id%3==0 (oldest), gen1 = %3==1 (recent), new crawl = %3==2
_ROTATION_CTE = f"""
{_SHINGLES}, gens AS (
  SELECT DISTINCT doc_id % 3 AS gen, shingle FROM sh WHERE doc_id % 3 != 2
), news AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 3 = 2
), seeds AS (SELECT unnest([{", ".join(str(i) for i in range(_K))}]) AS i),
gpos AS (
  SELECT g.gen, g.shingle,
         ('0x' || substr(md5(i::VARCHAR || ':' || g.shingle), 1, 15))
           ::BIGINT % {_NUM_BITS} AS pos
  FROM gens g, seeds
), genwords AS (
  SELECT gen, CAST(pos // 64 AS BIGINT) AS w,
         CAST(bit_or(CASE WHEN pos % 64 = 63
                          THEN (-9223372036854775807)::BIGINT - 1
                          ELSE 1::BIGINT << CAST(pos % 64 AS INT) END)
              AS BIGINT) AS word
  FROM gpos GROUP BY 1, 2
), fullf AS (
  SELECT w, CAST(bit_or(word) AS BIGINT) AS word FROM genwords GROUP BY 1
), rotf AS (
  SELECT w, word FROM genwords WHERE gen = 1
), ppos AS (
  SELECT n.shingle,
         ('0x' || substr(md5(i::VARCHAR || ':' || n.shingle), 1, 15))
           ::BIGINT % {_NUM_BITS} AS pos
  FROM news n, seeds
), hits_full AS (
  SELECT p.shingle, COUNT(*) AS nhit
  FROM ppos p JOIN fullf b ON CAST(p.pos // 64 AS BIGINT) = b.w
   AND ((CASE WHEN p.pos % 64 = 63
              THEN (-9223372036854775807)::BIGINT - 1
              ELSE 1::BIGINT << CAST(p.pos % 64 AS INT) END)
        & b.word) != 0
  GROUP BY 1
), pass_full AS (SELECT shingle FROM hits_full WHERE nhit = {_K}),
hits_rot AS (
  SELECT p.shingle, COUNT(*) AS nhit
  FROM ppos p JOIN rotf b ON CAST(p.pos // 64 AS BIGINT) = b.w
   AND ((CASE WHEN p.pos % 64 = 63
              THEN (-9223372036854775807)::BIGINT - 1
              ELSE 1::BIGINT << CAST(p.pos % 64 AS INT) END)
        & b.word) != 0
  GROUP BY 1
), pass_rot AS (SELECT shingle FROM hits_rot WHERE nhit = {_K}),
g0 AS (SELECT shingle FROM gens WHERE gen = 0),
g1 AS (SELECT shingle FROM gens WHERE gen = 1)"""


@register("bloom_store_rotation", oracle=f"""
WITH {_ROTATION_CTE}
SELECT
  CAST((SELECT COUNT(*) FROM g0) AS BIGINT) AS n_gen0,
  CAST((SELECT COUNT(*) FROM g1) AS BIGINT) AS n_gen1,
  CAST((SELECT COUNT(*) FROM news) AS BIGINT) AS n_probes,
  CAST((SELECT COUNT(*) FROM pass_full) AS BIGINT) AS n_pass_full,
  CAST((SELECT COUNT(*) FROM pass_rot) AS BIGINT) AS n_pass_rot,
  CAST((SELECT COUNT(*) FROM news JOIN g1 USING (shingle)) AS BIGINT)
    AS n_true_g1,
  CAST((SELECT COUNT(*) FROM news JOIN g0 USING (shingle)
        WHERE shingle NOT IN (SELECT shingle FROM g1)) AS BIGINT)
    AS n_true_g0_only,
  (SELECT COUNT(*) FROM news n JOIN g1 USING (shingle)
   JOIN pass_rot p ON p.shingle = n.shingle)
    = (SELECT COUNT(*) FROM news JOIN g1 USING (shingle))
    AS no_false_negatives_rot,
  CAST(((SELECT COUNT(*) FROM pass_full)
        - (SELECT COUNT(*) FROM pass_rot)) * 1000000
       // GREATEST((SELECT COUNT(*) FROM pass_full), 1) AS BIGINT)
    AS rotation_drop_ppm,
  CAST((SELECT COUNT(*) FROM news JOIN g0 USING (shingle)
        WHERE shingle NOT IN (SELECT shingle FROM g1)) * 1000000
       // GREATEST((SELECT COUNT(*) FROM news), 1) AS BIGINT)
    AS stale_recrawl_ppm
""")
def bloom_store_rotation(spark, sf_dir):
    """One-row audit of rotating the oldest generation out of the
    Bloom membership store: generation word tables built in ONE
    shingle pass (shard= hook), live filter = bit_or merge, rotated
    filter = the surviving generation's table unchanged.  Graded:
    store/probe sizes, pass counts through both filters, exact
    membership truth (g1, g0-only), the post-rotation no-false-
    negative guarantee, the pass mass rotation sheds
    (rotation_drop_ppm), and the re-ingest cost it accepts
    (stale_recrawl_ppm).

    A production store cannot grow forever: it is kept as per-
    generation (w, word) tables, the live filter is their bit_or merge
    (never a rebuild), and rotation drops the oldest generation's
    table from the merge."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", 5)
    # checkpoint budget: two corpus-sized frames (gens carries both
    # generations tagged; news is the probe side) — the rule of
    # dedup_cross_snapshot_bloom
    gens = (sh.filter(F.col("doc") % 3 != 2)
            .select((F.col("doc") % 3).alias("gen"), "shingle")
            .distinct()
            .localCheckpoint(eager=True))
    news = (sh.filter(F.col("doc") % 3 == 2)
            .select("shingle").distinct()
            .localCheckpoint(eager=True))

    # one pass builds BOTH generation word tables; <= 2 * 16 K rows,
    # three consumers (merge, rotated probe, full probe): checkpoint
    genwords = bloom_words_table(gens, "shingle", _NUM_BITS, _K,
                                 shard=F.col("gen"))\
        .localCheckpoint(eager=True)
    full = genwords.groupBy("w").agg(F.bit_or("word").alias("word"))
    rot = genwords.filter(F.col("shard_id") == 1).select("w", "word")

    pass_full = bloom_pass_keys(news, "shingle", full, _NUM_BITS, _K)
    pass_rot = bloom_pass_keys(news, "shingle", rot, _NUM_BITS, _K)
    g0 = gens.filter(F.col("gen") == 0).select("shingle")
    g1 = gens.filter(F.col("gen") == 1).select("shingle")

    # ONE flags pass over the probe side folds every per-shingle
    # verdict (the dedup_cross_snapshot_bloom pattern); sort-merge hints:
    # uncapped sides
    flags = (
        news.hint("merge")
        .join(g0.withColumn("in_g0", F.lit(1)).hint("merge"),
              "shingle", "left")
        .join(g1.withColumn("in_g1", F.lit(1)).hint("merge"),
              "shingle", "left")
        .join(pass_full.withColumn("pf", F.lit(1)).hint("merge"),
              "shingle", "left")
        .join(pass_rot.withColumn("pr", F.lit(1)).hint("merge"),
              "shingle", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.coalesce(F.sum("pf"), F.lit(0)).cast("bigint")
            .alias("n_pass_full"),
            F.coalesce(F.sum("pr"), F.lit(0)).cast("bigint")
            .alias("n_pass_rot"),
            F.coalesce(F.sum("in_g1"), F.lit(0)).cast("bigint")
            .alias("n_true_g1"),
            F.coalesce(
                F.sum(((F.col("in_g0") == 1) & F.col("in_g1").isNull())
                      .cast("bigint")), F.lit(0)).cast("bigint")
            .alias("n_true_g0_only"),
            F.coalesce(
                F.sum(((F.col("in_g1") == 1) & (F.col("pr") == 1))
                      .cast("bigint")), F.lit(0)).cast("bigint")
            .alias("n_true_g1_pass_rot"),
        ))
    sizes = (gens.groupBy()
             .agg(F.sum((F.col("gen") == 0).cast("bigint"))
                  .cast("bigint").alias("n_gen0"),
                  F.sum((F.col("gen") == 1).cast("bigint"))
                  .cast("bigint").alias("n_gen1")))
    return (sizes.crossJoin(F.broadcast(flags)).select(
        "n_gen0", "n_gen1", "n_probes", "n_pass_full", "n_pass_rot",
        "n_true_g1", "n_true_g0_only",
        (F.col("n_true_g1_pass_rot") == F.col("n_true_g1"))
        .alias("no_false_negatives_rot"),
        F.expr("(n_pass_full - n_pass_rot) * 1000000 "
               "DIV GREATEST(n_pass_full, 1L)")
        .cast("bigint").alias("rotation_drop_ppm"),
        F.expr("n_true_g0_only * 1000000 DIV GREATEST(n_probes, 1L)")
        .cast("bigint").alias("stale_recrawl_ppm"),
    ))
