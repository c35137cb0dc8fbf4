"""Vector queries over ``embeddings``: exact and approximate
nearest-neighbour search (brute force, IVF, LSH, PQ, Hamming), recall
audits, and embedding statistics, quantization and projection.

The synthetic vectors are near-orthogonal (max pairwise cosine ≈ 0.51
at sf0.01), so pair thresholds sit at 0.4 to give real result sets.
Oracle cosines use ``list_cosine_similarity`` over DOUBLE[] with both
sides rounded to 6 decimals; the Spark side folds the dot product in
doubles, so rounded values agree.  Approximate-by-construction
queries (``ann_lsh_cosine``) are rows-only; their exact twins carry
the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.stats import _RDIV, staged_ppm
from ..registry import register
from ..sources.catalog import load_table
from ._shared import _emb, _rdiv_sql

#: exact cosine top-5 per query from ``bscored``
_BRUTE_TOP5 = """brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM bscored) WHERE rank <= 5
)"""

#: 64-bit sign sketches and every query's Hamming distance to the rest
_HAMMING_SIGNS = """
WITH signs AS (
  SELECT vec_id, t.i AS pos, (embedding[t.i] > 0) AS s
  FROM embeddings, generate_series(1, 64) t(i)
  WHERE embedding IS NOT NULL
), q AS (
  SELECT * FROM signs WHERE vec_id < 10
), ham AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CASE WHEN q.s != c.s THEN 1 ELSE 0 END) AS BIGINT)
           AS hamming
  FROM q JOIN signs c ON c.pos = q.pos AND c.vec_id != q.vec_id
  GROUP BY 1, 2
)"""

#: IVF candidates: 1/32 of the vectors as centroids, every vector in
#: its nearest list, queries (vec_id < 10) probe their 4 nearest lists
_IVF_CANDIDATES = """
WITH cent AS (
  SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id % 32 = 0
), c_rank AS (
  SELECT e.vec_id AS neighbor_id, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]), 6) DESC,
                    c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
), c_assign AS (
  SELECT neighbor_id, cent_id AS list_id FROM c_rank WHERE rn = 1
), q_rank AS (
  SELECT e.vec_id AS query_id, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]), 6) DESC,
                    c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  WHERE e.vec_id < 10
), q_assign AS (
  SELECT query_id, cent_id AS list_id FROM q_rank WHERE rn <= 4
), cand AS (
  SELECT DISTINCT q.query_id, ca.neighbor_id
  FROM q_assign q JOIN c_assign ca USING (list_id)
  WHERE q.query_id <> ca.neighbor_id
)"""


@register("ann_hard_negatives", oracle="""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings q JOIN embeddings c ON q.label != c.label
  WHERE q.vec_id < 10
), ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id ASC)
              AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine_sim
FROM ranked WHERE rank <= 5
""")
def ann_hard_negatives(spark, sf_dir):
    """Hard-negative mining: top-5 most-similar DIFFERENT-label
    neighbors per query vector (vec_id < 10) — broadcast queries,
    map-only corpus pass, label filter folded into the join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.hard_negatives(emb, queries, k=5)


@register("ann_range_search", oracle="""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]), 6) AS cosine_sim
FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
WHERE q.vec_id < 10
  AND round(list_cosine_similarity(q.embedding::DOUBLE[],
                                   c.embedding::DOUBLE[]), 6) >= 0.35
""")
def ann_range_search(spark, sf_dir):
    """Radius (range) similarity search: ALL neighbors with cosine >=
    0.35 of each query vector (vec_id < 10) — the fixed-similarity-bar
    twin of ann_topk_bruteforce (recall-critical callers want every
    match, not the k best); broadcast queries, map-only corpus pass,
    no window."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.radius_search(emb, queries)


@register("ann_topk_bruteforce", oracle="""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id ASC)
              AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine_sim
FROM ranked WHERE rank <= 5
""")
def ann_topk_bruteforce(spark, sf_dir):
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10):
    broadcast queries x streamed corpus, no corpus shuffle."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk_bruteforce(emb, queries, k=5)


@register("ann_ivf_topk", oracle=_IVF_CANDIDATES + """, scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM ranked WHERE rank <= 5
""")
def ann_ivf_topk(spark, sf_dir):
    """IVF inverted-list top-k (deterministic centroids, nprobe=4) —
    the bounded-search scale path; recall vs brute force asserted in
    tests/test_similarity.py.  The algorithm is DETERMINISTIC (stride
    centroids, rounded-then-ranked assignment), so the oracle replays
    the exact same list assignment + probe + re-rank in SQL — a full
    value check, not a recall bound."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, nprobe=4)


def _guarded_cos(a: str, b: str) -> str:
    """NaN-proof oracle cosine: DuckDB's list_cosine_similarity yields
    NaN for a zero-norm operand and NaN sorts ABOVE all doubles, while
    the operator's try_divide yields NULL (sorts last in Spark).  The
    CASE maps the zero-norm case to NULL so both engines agree; pair
    with explicit NULLS LAST in the ORDER BY."""
    return (
        f"CASE WHEN list_dot_product({a}, {a}) > 0"
        f" AND list_dot_product({b}, {b}) > 0"
        f" THEN round(list_cosine_similarity({a}, {b}), 6) END"
    )


def _ivf_kmeans_oracle():
    from ._kmeans_sql import kmeans_centroids_cte

    cent_cos = _guarded_cos("e.embedding::DOUBLE[]", "c.embedding")
    pair_cos = _guarded_cos("qe.embedding::DOUBLE[]", "ce.embedding::DOUBLE[]")
    return (
        "WITH " + kmeans_centroids_cte(k=8, n_iter=3)
        + f""", c_rank AS (
  SELECT e.vec_id AS neighbor_id, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cent_cos} DESC NULLS LAST,
                    c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
), c_assign AS (
  SELECT neighbor_id, cent_id AS list_id FROM c_rank WHERE rn = 1
), q_rank AS (
  SELECT e.vec_id AS query_id, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cent_cos} DESC NULLS LAST,
                    c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  WHERE e.vec_id < 10
), q_assign AS (
  SELECT query_id, cent_id AS list_id FROM q_rank WHERE rn <= 3
), cand AS (
  SELECT DISTINCT q.query_id, ca.neighbor_id
  FROM q_assign q JOIN c_assign ca USING (list_id)
  WHERE q.query_id <> ca.neighbor_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {pair_cos} AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
), ranked AS ("""
        + """
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC NULLS LAST, neighbor_id ASC)
              AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM ranked WHERE rank <= 5
"""
    )


@register("ann_ivf_kmeans_topk", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k with TRAINED centroids: k-means (k=8, 3 iterations,
    deterministic) learns the inverted-list centroids, then the IVF
    probe search runs against them — the composed offline-train /
    online-search pipeline the stride-centroid default stands in for.
    The fixed-point k-means (see ``kmeans_fit``) makes the trained
    centroids SQL-reproducible, so the whole train+search composition
    carries a FULL value oracle (unrolled k-means CTEs feeding the
    same assignment/probe/re-rank SQL as ``ann_ivf_topk``); recall
    vs brute force is additionally asserted in
    tests/test_similarity.py."""
    from ..operators.corpus import kmeans_fit

    emb = _emb(spark, sf_dir)
    _, centroids = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iter=3)
    from ..sources.catalog import local_frame

    cent_df = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cent_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, nprobe=3, centroids_df=cent_df)


@register("ann_lsh_cosine", oracle="""
WITH pl AS (
  SELECT t.t AS tbl, p.p AS p,
         list((('0x' || substr(md5(CAST(t.t*6+p.p AS VARCHAR) || ':' ||
                                    CAST(j.j AS VARCHAR)), 1, 15))::BIGINT
               % 2001 - 1000) / 1000.0 ORDER BY j.j) AS coeffs
  FROM (SELECT unnest(generate_series(0, 7)) AS t) t
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) p
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
  GROUP BY 1, 2
), sig AS (
  SELECT e.vec_id, pl.tbl,
         CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                                             pl.coeffs) > 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN pl
  GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
), out AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine_sim FROM out WHERE cosine_sim >= 0.4
""")
def ann_lsh_cosine(spark, sf_dir):
    """Hyperplane-LSH bucketed near-dup pairs (verified cosine >= 0.4):
    deterministic PORTABLE md5-grid hyperplanes (literal arrays in the
    plan — zero per-row hashing), candidates only from bucket
    collisions.  The whole pipeline — 48 sign bits, 8 signatures,
    bucket join, exact verify — is replayed in SQL, so this carries a
    FULL value oracle, not just a recall bound."""
    return S.lsh_cosine_pairs(
        _emb(spark, sf_dir), n_planes=6, n_tables=8, threshold=0.4,
    )


@register("ann_pq_topk", oracle="""
WITH normed AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) > 0
              THEN list_transform(embedding::DOUBLE[],
                     x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[])))
              ELSE embedding::DOUBLE[] END AS nv
  FROM embeddings
), train AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS tj, nv
  FROM normed WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 16
), subs AS (
  SELECT unnest(generate_series(0, 7)) AS s
), books AS (
  SELECT subs.s, t.tj, t.nv[subs.s*8 + 1 : subs.s*8 + 8] AS bv
  FROM train t CROSS JOIN subs
), dists AS (
  SELECT n.vec_id, b.s, b.tj,
         round(list_sum(list_transform(
               list_zip(n.nv[b.s*8 + 1 : b.s*8 + 8], b.bv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
           AS dist
  FROM normed n CROSS JOIN books b
), codes AS (
  SELECT vec_id, s, tj AS code FROM (
    SELECT vec_id, s, tj,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, tj ASC) AS rn
    FROM dists
  ) WHERE rn = 1
), approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(SUM(qd.dist), 6) AS ad
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
  JOIN codes c ON c.vec_id <> q.vec_id
  JOIN dists qd ON qd.vec_id = q.vec_id AND qd.s = c.s AND qd.tj = c.code
  GROUP BY 1, 2
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ad ASC, neighbor_id ASC) AS rn
    FROM approx
  ) WHERE rn <= 20
), rerank AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qn.nv, cn.nv), 6) AS cosine_sim
  FROM short s
  JOIN normed qn ON qn.vec_id = s.query_id
  JOIN normed cn ON cn.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM rerank
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM ranked WHERE rank <= 5
""")
def ann_pq_topk(spark, sf_dir):
    """Product-quantization top-k (m=8 subspaces, 16-entry codebooks,
    ADC lookups + exact re-rank) — the memory-bound ANN path: the
    search scans m-byte codes, not raw vectors.  Every stage is
    deterministic and rounded-then-ranked, so the oracle replays the
    codebook construction, encoding, ADC shortlist, and exact re-rank
    in SQL — a full value check; recall vs brute force additionally
    asserted in tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(emb, queries, k=5, m=8, ks=16)


@register("ann_mutual_knn", oracle="""
WITH u AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
), scored AS (
  SELECT q.vec_id AS qa, c.vec_id AS qb,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS sim
  FROM u q JOIN u c ON q.vec_id != c.vec_id
), ranked AS (
  SELECT qa, qb, sim,
         row_number() OVER (PARTITION BY qa
                            ORDER BY sim DESC, qb ASC) AS rn
  FROM scored
)
SELECT a.qa AS id_a, a.qb AS id_b, a.sim AS cosine_sim
FROM ranked a JOIN ranked b ON b.qa = a.qb AND b.qb = a.qa
WHERE a.rn <= 5 AND b.rn <= 5 AND a.qa < a.qb
""")
def ann_mutual_knn(spark, sf_dir):
    """Mutual-kNN pairs (each vector in the other's top-5) over the
    vec_id % 4 == 0 evaluation slice — the symmetric-neighbor graph
    under agglomerative semantic clustering.  Exact brute-force
    baseline on the bounded slice (broadcast queries, no corpus
    shuffle); at 100 TB the candidate step swaps to the IVF/LSH
    generators and this same mutual join runs on their output."""
    emb = load_table(spark, sf_dir, "embeddings")
    universe = emb.filter(F.col("vec_id") % 4 == 0)
    knn = S.cosine_topk_bruteforce(universe, universe, k=5)
    k1 = knn.select(F.col("query_id").alias("id_a"),
                    F.col("neighbor_id").alias("id_b"),
                    F.col("cosine_sim"))
    k2 = knn.select(F.col("query_id").alias("id_b"),
                    F.col("neighbor_id").alias("id_a"))
    return (
        k1.join(k2, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine_sim")
    )


_IVF_RECALL_ORACLE = _IVF_CANDIDATES + """, iscored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]), 6) AS s
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM iscored) WHERE rank <= 5
), bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS s
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
), """ + _BRUTE_TOP5 + """
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_true,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST({rdiv} AS BIGINT) AS recall_ppm
FROM brute b LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY 1
""".format(rdiv=_rdiv_sql("1000000 * COUNT(i.neighbor_id)", "COUNT(*)"))


@register("ann_ivf_recall_audit", oracle=_IVF_RECALL_ORACLE)
def ann_ivf_recall_audit(spark, sf_dir):
    """MEASURED IVF quality against exact ground truth — the ANN twin
    of dedup_lsh_recall_audit: the stride-centroid nprobe=4 IVF top-5
    (ann_ivf_topk's plan, replayed verbatim) joined against the
    brute-force top-5, per-query recall in ppm.  This is the audit a
    100 TB index build runs on a sample BEFORE committing to nprobe /
    list-count settings: recall is a measured property of the data,
    not a hope.  Both sides are deterministic, so the recall values
    themselves carry the full oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ivf = S.ivf_topk(emb, queries, nprobe=4) \
        .select("query_id", F.col("neighbor_id").alias("ivf_n"))
    return _recall_at_5(emb, queries, ivf, "ivf_n")


def _recall_at_5(emb, queries, approx, hit):
    """Per-query recall in ppm of ``approx``'s neighbors (column
    ``hit``) against the exact cosine top-5 of ``queries``."""
    brute = S.cosine_topk_bruteforce(emb, queries,
                                     k=5) \
        .select("query_id", "neighbor_id")
    j = brute.join(
        approx,
        (brute["query_id"] == approx["query_id"])
        & (F.col("neighbor_id") == F.col(hit)),
        "left").select(brute["query_id"], "neighbor_id", hit)
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_true"),
        F.count(hit).cast("bigint").alias("n_hits"),
    ).select(
        "query_id", "k_true", "n_hits",
        F.expr(_RDIV.format(a="1000000 * n_hits", b="k_true"))
        .cast("bigint").alias("recall_ppm"))


@register("ann_hamming_topk", oracle=_HAMMING_SIGNS + """, ranked AS (
  SELECT query_id, neighbor_id, hamming,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
  FROM ham
)
SELECT query_id, neighbor_id, hamming, rank
FROM ranked WHERE rank <= 5
""")
def ann_hamming_topk(spark, sf_dir):
    """Exact Hamming top-5 over bit-packed sign signatures
    (operators/similarity.py sign_signatures / hamming_topk): 64 float
    dims collapse to two BIGINT words per vector, distance is two
    XOR + bit_count instructions, the tiny query side broadcasts.
    At 100 TB the signature table is ~16 bytes/vector — the rerank
    primitive the SimHash pigeonhole candidates flow into.

    The oracle is deliberately a different physical strategy: Spark
    packs sign bits into BIGINT words and scores with XOR + bit_count,
    while DuckDB unnests the raw vectors and counts differing signs
    per (query, neighbor); value equality across the two shapes is the
    correctness claim."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.hamming_topk(emb, queries,
                          k=5, dim=64)


@register("ann_hamming_recall_audit", oracle=_HAMMING_SIGNS + """, hamk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY hamming, neighbor_id) AS rank
    FROM ham) WHERE rank <= 5
), bscored AS (
  SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]), 6) AS s
  FROM embeddings qe JOIN embeddings ce ON qe.vec_id != ce.vec_id
  WHERE qe.vec_id < 10
), """ + _BRUTE_TOP5 + """
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_true,
       CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_hits,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
            ELSE (1000000 * COUNT(h.neighbor_id)) // COUNT(*) END
            AS BIGINT) AS recall_ppm
FROM brute b LEFT JOIN hamk h
  ON h.query_id = b.query_id AND h.neighbor_id = b.neighbor_id
GROUP BY 1
""")
def ann_hamming_recall_audit(spark, sf_dir):
    """MEASURED binary-signature quality against exact ground truth —
    the Hamming member of the recall-audit family (LSH, IVF, now
    Hamming): sign-bit top-5 joined against the exact cosine top-5,
    per-query recall in ppm.  This is the number that decides whether
    1-bit/dim compression (16 bytes/vector instead of 256) is
    acceptable for a given corpus BEFORE the 100 TB index build; on
    near-orthogonal synthetic vectors it is the worst case, which is
    exactly why it must be measured, not assumed."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    ham = S.hamming_topk(emb, queries,
                         k=5, dim=64) \
        .select("query_id", F.col("neighbor_id").alias("ham_n"))
    return _recall_at_5(emb, queries, ham, "ham_n")


@register("embedding_label_centroids", oracle="""
WITH el AS (
  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), ag AS (
  -- per-row exact integer micro-units summed in HUGEINT: the earlier
  -- sum(DECIMAL)*1000000 overflowed DECIMAL width and went through
  -- DOUBLE, exact only below 2^53 micro-units; this form is exact to
  -- the same int64 bound as the Spark side (r12 advice)
  SELECT label, CAST(pos AS BIGINT) AS pos,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CAST(CAST(round(val, 6) AS DECIMAL(18,6)) * 1000000
                       AS BIGINT)) AS BIGINT) AS su
  FROM el GROUP BY 1, 2
)
SELECT label, pos, n_vecs,
       CAST((CASE WHEN su < 0 THEN -1 ELSE 1 END) *
            (((abs(su)) // (n_vecs)) +
             (CASE WHEN 2 * ((abs(su)) % (n_vecs)) >= (n_vecs)
              THEN 1 ELSE 0 END)) AS DOUBLE) / 1000000.0 AS mean_val
FROM ag
""")
def embedding_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (class means) — posexplode +
    one (label, pos)-keyed aggregate; decimal-exact cross-row sums
    AND an integer round-half-away mean (the final round-on-double
    diverged between engines at sf0.1) keep the means bit-stable and
    fully value-oracled."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.label_centroids(emb)


@register("embedding_cosine_pairs", oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.4
""")
def embedding_cosine_pairs(spark, sf_dir):
    """Embedding pairs with cosine >= 0.4, exact, via the BLOCKED
    pair-space plan (hash-block equi-join, no cartesian/BNLJ) —
    distributes the unavoidable Θ(n²) dot products over B²/2 uniform
    tasks with bounded memory.  LSH variant below is the sub-quadratic
    near-dup path."""
    return S.cosine_pairs_blocked(
        _emb(spark, sf_dir)
    )


@register("embedding_dim_stats", oracle="""
WITH el AS (
  SELECT i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), a AS (
  SELECT CAST(pos AS BIGINT) AS pos,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(round(val, 6) AS DECIMAL(18,6))) AS s,
         sum(CAST(round(val, 6) AS DECIMAL(18,6))
             * CAST(round(val, 6) AS DECIMAL(18,6))) AS s2,
         round(min(val), 6) AS min_val,
         round(max(val), 6) AS max_val
  FROM el GROUP BY 1
)
SELECT pos, n,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_val,
       round(sqrt(greatest(CAST(s2 AS DOUBLE) / n
                  - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                  0.0)),
             6) AS std_val,
       min_val, max_val
FROM a
""")
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding distribution stats (whitening /
    quantizer-training prep) — decimal-exact moments on the bounded
    ``pos`` key."""
    from ..operators.similarity import dim_stats

    return dim_stats(load_table(spark, sf_dir, "embeddings"))


@register("embedding_quantize_int8", oracle="""
WITH el AS (
  SELECT vec_id, i - 1 AS pos,
         round(CAST(embedding[i] AS DOUBLE), 6) AS v6
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), rng AS (
  SELECT pos, min(v6) AS lo, max(v6) AS hi FROM el GROUP BY 1
), q AS (
  SELECT vec_id,
         round(v6 - (lo + (CASE WHEN hi = lo THEN 0.0
                           ELSE round((v6 - lo) / ((hi - lo) / 255.0), 0)
                           END)
                     * (CASE WHEN hi = lo THEN 0.0
                        ELSE (hi - lo) / 255.0 END)), 6) AS err
  FROM el JOIN rng USING (pos)
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
       round(CAST(sum(CAST(err AS DECIMAL(18,6))
                      * CAST(err AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mse,
       round(max(abs(err)), 6) AS max_abs_err
FROM q GROUP BY 1
""")
def embedding_quantize_int8(spark, sf_dir):
    """Per-dimension affine int8 quantization with a reconstruction-
    error audit per vector — retrieval-index compression; dim-keyed
    range aggregate broadcast back, id-keyed error aggregate."""
    from ..operators.similarity import quantize_int8

    return quantize_int8(
        load_table(spark, sf_dir, "embeddings")
    )


def _gram_oracle():
    from ..operators.linalg import gram_matrix_sql

    return gram_matrix_sql()


@register("embedding_gram_matrix", oracle=_gram_oracle())
def embedding_gram_matrix(spark, sf_dir):
    """Exact corpus gram matrix G = X^T X over the embedding column
    (operators/linalg.py): Arrow-batched map-side int64 matmul
    partials + one d^2-row decimal reduce — the shuffle is
    #partitions x d^2 regardless of corpus size, the shape PCA/
    whitening preprocessing needs at 100 TB."""
    from ..operators.linalg import gram_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding", dim=64)


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


_JL_K = 8


def _jl_sign_sql(r: int) -> str:
    return (f"(CASE WHEN ('0x' || substr(md5('{r}_' || CAST(pos AS "
            f"VARCHAR)), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)")


@register("embedding_jl_projection", oracle=f"""
WITH el AS (
  SELECT vec_id, label, i - 1 AS pos,
         round(CAST(embedding[i] AS DOUBLE), 6) AS v6
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), rng AS (
  SELECT pos, min(v6) AS lo, max(v6) AS hi FROM el GROUP BY 1
), codes AS (
  SELECT vec_id, label, pos,
         CAST(CASE WHEN hi = lo THEN 0
              ELSE round((v6 - lo) / ((hi - lo) / 255.0), 0) END
              AS BIGINT) - 128 AS c
  FROM el JOIN rng USING (pos)
), per_vec AS (
  SELECT vec_id, label,
         CAST(SUM(c * c) AS BIGINT) AS orig_sq,
         {", ".join(f"CAST(SUM({_jl_sign_sql(r)} * c) AS BIGINT) AS p{r}"
                    for r in range(_JL_K))}
  FROM codes GROUP BY 1, 2
), per_label AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM({" + ".join(f"p{r} * p{r}" for r in range(_JL_K))})
              AS BIGINT) AS sum_proj_sq,
         CAST({_JL_K} * SUM(orig_sq) AS BIGINT) AS sum_orig_sq_xk
  FROM per_vec GROUP BY 1
)
SELECT label, n_vecs, sum_proj_sq, sum_orig_sq_xk,
       CAST({staged_ppm("sum_proj_sq", "sum_orig_sq_xk", intdiv="//")}
            AS BIGINT) AS ratio_ppm
FROM per_label
""")
def embedding_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sign-projection audit: project the int8-
    quantized embeddings (the PROVEN cross-engine codes from
    embedding_quantize_int8, centered at -128..127) through a
    deterministic ±1 matrix — sign(r, j) = parity of md5("r_j") — to
    k={k} dimensions, and grade E[|Px|^2] = k·|x|^2 per label as an
    exact integer ratio (ppm, staged ×1000 division for int64
    headroom).  This is the dimensionality-reduction step before a
    100 TB ANN build: one map pass computes all k projections per
    vector (no explode-by-k — the signs are k expressions over one
    posexplode), then two bounded aggregates.  The ratio landing near
    1e6 per label is the JL isometry-in-expectation, measured, not
    assumed."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", "label",
        F.posexplode(F.transform(F.col("embedding"),
                                 lambda x: x.cast("double")))
        .alias("pos", "val"),
    ).withColumn("v6", F.round("val", 6))
    def sign(r: int):
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{r}_"),
                           F.col("pos").cast("string"))), 1, 15),
            16, 10).cast("bigint")
        return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))

    # the ±1 signs depend on (r, pos) ONLY — computing them inside the
    # per-vector aggregate re-ran k md5 hashes per exploded ROW
    # (k·n_vecs·dim hashes); hoisting them onto the per-pos range
    # table computes k·dim hashes once and ships them on the same
    # broadcast the quantization ranges already ride (guide §1.2:
    # per-task work, after the plan shape is right)
    rng = (el.groupBy("pos").agg(F.min("v6").alias("lo"),
                                 F.max("v6").alias("hi"))
           .select("pos", "lo", "hi",
                   *[sign(r).alias(f"_s{r}") for r in range(_JL_K)]))
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        F.round((F.col("v6") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(255.0)), 0))
    codes = (el.join(F.broadcast(rng), "pos")
             .select("vec_id", "label", "pos",
                     (code.cast("bigint") - 128).alias("c"),
                     *[f"_s{r}" for r in range(_JL_K)]))

    per_vec = codes.groupBy("vec_id", "label").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("orig_sq"),
        *[F.sum(F.col(f"_s{r}") * F.col("c")).cast("bigint")
          .alias(f"p{r}") for r in range(_JL_K)])
    proj_sq = sum(F.col(f"p{r}") * F.col(f"p{r}")
                  for r in range(_JL_K))
    per_label = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(proj_sq).cast("bigint").alias("sum_proj_sq"),
        (F.lit(_JL_K) * F.sum("orig_sq")).cast("bigint")
        .alias("sum_orig_sq_xk"))
    return per_label.select(
        "label", "n_vecs", "sum_proj_sq", "sum_orig_sq_xk",
        F.expr(staged_ppm("sum_proj_sq", "sum_orig_sq_xk"))
        .cast("bigint").alias("ratio_ppm"),
    )


embedding_jl_projection.__doc__ = embedding_jl_projection.__doc__.format(
    k=_JL_K)
