"""Round-5 third-wave queries: tokenizer-prep vocabulary, weighted
near-dup scoring, embedding quantization/profiling, robust outliers,
and attribution — each a DataFrame pipeline with a value-exact DuckDB
oracle (decimal/integer cross-row arithmetic, double only in final
scalar math; see registry docstring for the parity conventions).

Registered AFTER ``curation`` per the rotation ledger in
``registry._load_all`` — these take a driver first-50 slot in a later
round; until then the local exact-compare gate covers them.
"""

from __future__ import annotations

from ..registry import register
from ..sources.catalog import load_table


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
        load_table(spark, sf_dir, "documents"), "doc_id", "text", min_df=2, max_df_ratio=0.8
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

    return dim_stats(load_table(spark, sf_dir, "embeddings"), "embedding")


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
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@register("events_mad_outliers", oracle="""
WITH e AS (
  SELECT event_id, event_type, value, round(value, 6) AS v6 FROM events
), m AS (
  SELECT event_type, round(median(v6), 6) AS med FROM e GROUP BY 1
), d AS (
  SELECT e.*, med, round(abs(v6 - med), 6) AS absdev
  FROM e JOIN m USING (event_type)
), md AS (
  SELECT event_type, round(median(absdev), 6) AS mad FROM d GROUP BY 1
)
SELECT event_id, event_type, value,
       round(0.6745 * (v6 - med) / mad, 6) AS robust_z
FROM d JOIN md USING (event_type)
WHERE mad > 0 AND abs(0.6745 * (v6 - med) / mad) > 3.5
""")
def events_mad_outliers(spark, sf_dir):
    """Median/MAD robust outliers per event type (Iglewicz–Hoban
    modified z > 3.5) — the breakdown-resistant twin of the 3-sigma
    query; exact grouped medians on a bounded-cardinality key."""
    from ..operators.profiling import mad_outliers
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return mad_outliers(ev, "event_id", "event_type", "value", k=3.5)


@register("events_first_touch", oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
), f AS (
  SELECT event_id, user_id, event_type, ep,
         min(CASE WHEN event_type = 'click' THEN ep END) OVER (
           PARTITION BY user_id ORDER BY ep
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS ft
  FROM e
)
SELECT event_id, user_id,
       ep AS conv_ts_epoch,
       ft AS first_touch_epoch,
       ft IS NOT NULL AS attributed,
       CAST(ep - ft AS BIGINT) AS latency_sec
FROM f WHERE event_type = 'purchase'
""")
def events_first_touch(spark, sf_dir):
    """First-touch attribution: each purchase credits the user's
    earliest click in the preceding 7 days — one per-user RANGE
    window, no self-join (contrast: the as-of join is last-touch)."""
    from ..operators.timeseries import first_touch_attribution
    from ..sources.catalog import load_events

    return first_touch_attribution(load_events(spark, sf_dir))


@register("text_langid_confusion", oracle="""
WITH x AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) AS BIGINT) AS score_en,
    CAST(len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS score_de,
    CAST(len(list_filter(w, t -> list_contains(['el','la','los','que','y'], t))) AS BIGINT) AS score_es,
    CAST(len(list_filter(w, t -> list_contains(['le','les','des','et','est'], t))) AS BIGINT) AS score_fr,
    CAST(len(list_filter(w, t -> list_contains(['的','是','了','在'], t))) AS BIGINT) AS score_zh
  FROM x
), p AS (
  SELECT doc_id, lang,
       CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
  FROM s
)
SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY 1, 2
""")
def text_langid_confusion(spark, sf_dir):
    """Language-ID quality audit: confusion matrix of the stopword
    heuristic's prediction against the labeled ``lang`` column —
    one join-free map-only pass (the label rides through the
    predictor via ``carry_cols``) plus a (lang, pred)-keyed
    aggregate."""
    from pyspark.sql import functions as F

    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs, "doc_id", "text", carry_cols=("lang",))
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@register("approx_distinct_kmv", oracle="""
WITH h AS (
  SELECT DISTINCT l_returnflag,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), r AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM h
), t AS (
  SELECT l_returnflag, max(h) AS kth,
         CAST(count(*) AS BIGINT) AS n_min_values
  FROM r WHERE rn <= 256 GROUP BY 1
)
SELECT l_returnflag, n_min_values,
       round(CASE WHEN n_min_values < 256
                  THEN CAST(n_min_values AS DOUBLE)
                  ELSE (255.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE)
             END, 2) AS approx_distinct
FROM t
""")
def approx_distinct_kmv(spark, sf_dir):
    """K-Minimum-Values distinct estimator (k=256, ~6% rel. error) —
    the PORTABLE twin of the HLL queries: md5-derived 60-bit hashes
    and exact tie-breaks make the ESTIMATE itself reproducible in SQL,
    so an approximate operator carries a full value oracle (the native
    HLL path stays the production default; accuracy of both is bounded
    in tests)."""
    from ..operators.sketch import kmv_distinct

    l = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(l, "l_returnflag", "l_partkey", k=256)


@register("approx_percentiles_sampled", oracle="""
WITH s AS (
  SELECT event_type, round(value, 6) AS v6
  FROM events
  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        < 144115188075855872
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
       round(quantile_cont(v6, 0.5), 6) AS p50,
       round(quantile_cont(v6, 0.9), 6) AS p90,
       round(quantile_cont(v6, 0.99), 6) AS p99
FROM s GROUP BY 1
""")
def approx_percentiles_sampled(spark, sf_dir):
    """Approximate percentiles from a deterministic 1/8 hash-Bernoulli
    sample — the portable twin of ``percentile_approx``: both engines
    draw the identical sample (hash of the row id), so the estimates
    value-match exactly while the exact sort only ever sees 1/8 of the
    scan."""
    from ..operators.sketch import sampled_percentiles
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return sampled_percentiles(
        ev, "event_type", "value", "event_id",
        rate=8, percentiles=(0.5, 0.9, 0.99),
    )


def _bpe_oracle():
    from ._bpe_sql import bpe_train_sql

    return bpe_train_sql(n_merges=8, top_words=2000)


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
    return bpe_train(spark, docs, "text", n_merges=8, top_words=2000)


def _bpe_encode_oracle():
    from ._bpe_sql import bpe_encode_sql

    return bpe_encode_sql(n_merges=8, top_words=2000)


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
    return bpe_encode_counts(spark, docs, "doc_id", "text",
                             n_merges=8, top_words=2000)


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


def _pagerank_oracle():
    from ..operators.graph import pagerank_sql

    return pagerank_sql(n_iter=4, damping_pct=85)


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark, sf_dir):
    """Exact fixed-point PageRank over the customer↔supplier
    co-purchase graph (edges both directions through order lineitems)
    — 4 Pregel-style iterations of edge⋈rank join + destination agg,
    all integer microunits (operators/graph.py), so the unrolled CTE
    oracle reproduces every rank bit-for-bit.  The centrality signal
    a marketplace risk/recommendation pipeline consumes."""
    from pyspark.sql import functions as F

    from ..operators.graph import pagerank_fixed_point

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
    return pagerank_fixed_point(nodes, edges, n_iter=4, damping_pct=85)
