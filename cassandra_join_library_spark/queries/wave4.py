"""Round-7 operator wave: graph triangle analytics, multimodal
patch/frame planning, code detection, corpus mixture/length planning,
mutual-kNN, nearest as-of, prefix dedup, inactivity gaps, and the
cume_dist/percent_rank window tail.

All are extension surface (the reference implements none of this —
SURVEY.md §2.6); every query carries an exact-value DuckDB oracle and
follows the repo parity conventions (integer-first arithmetic, aliased
columns, total orders under LIMIT).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators.graph import triangle_participation
from ..registry import register
from ..sources.catalog import load_table


def _copurchase_edges(spark, sf_dir):
    """Undirected part co-purchase edges (u < v): parts appearing in
    the same order.  Per-order fanout is k-choose-2 in the order's
    distinct part count — bounded by order size, not corpus size; at
    100 TB cap parts-per-order (top-k by quantity) before pairing."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"),
                F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # deliberately LAZY (no checkpoint here): consumers like
    # graph_two_hop_reach push per-branch pruning INTO this self-join
    # and regress 1.5x if the full edge list is force-materialized
    # (measured r12); operators whose every branch needs the full
    # list (rich_club) materialize at their own boundary instead
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


_EDGE_CTE = """
li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON b.o = a.o AND b.p > a.p
)"""


@register("graph_triangle_count", oracle=f"""
WITH {_EDGE_CTE},
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
  SELECT x AS n FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT CAST(n AS BIGINT) AS node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY n
ORDER BY n_triangles DESC, node_id ASC LIMIT 20
""")
def graph_triangle_count(spark, sf_dir):
    """Top-20 parts by triangle participation in the co-purchase
    graph (operators/graph.py triangle_participation): degree-ordered
    orientation bounds every out-neighborhood by O(sqrt(|E|)), so the
    wedge join survives power-law hubs at 100 TB; the count is
    orientation-invariant, so the id-ordered SQL twin matches
    exactly."""
    return triangle_participation(_copurchase_edges(spark, sf_dir), top=20)


@register("graph_degree_distribution", oracle=f"""
WITH {_EDGE_CTE},
d AS (
  SELECT n, COUNT(*) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
  GROUP BY n
)
SELECT CAST(length(CAST(deg AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_degree,
       CAST(MAX(deg) AS BIGINT) AS max_degree
FROM d GROUP BY 1
""")
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the co-purchase graph in decimal-magnitude
    buckets (1-9, 10-99, ... — digit count is integer-exact in both
    engines, unlike log2 on doubles).  Two aggregations, both
    map-side-combinable; the power-law shape read off this histogram
    is what decides whether the triangle/PageRank passes need hub
    mitigation."""
    from ..operators.graph import degrees

    deg = degrees(_copurchase_edges(spark, sf_dir))
    return (
        deg.groupBy(
            F.length(F.col("deg").cast("string")).cast("bigint")
            .alias("magnitude"))
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.min("deg").cast("bigint").alias("min_degree"),
             F.max("deg").cast("bigint").alias("max_degree"))
    )


@register("mm_image_patch_plan", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 640 + 1 AS w,
         doc_id % 480 + 1 AS h
  FROM documents
)
SELECT doc_id,
       CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
       CAST((w + 15) // 16 AS BIGINT) AS patches_x,
       CAST((h + 15) // 16 AS BIGINT) AS patches_y,
       CAST(((w + 15) // 16) * ((h + 15) // 16) AS BIGINT) AS n_patches,
       CAST(((w + 15) // 16) * 16 - w AS BIGINT) AS pad_x,
       CAST(((h + 15) // 16) * 16 - h AS BIGINT) AS pad_y
FROM src
""")
def mm_image_patch_plan(spark, sf_dir):
    """ViT-style 16x16 patch-grid planning from REAL parsed BMP
    headers: synthesize a spec-conformant header per document, parse
    width/height back out of the payload bytes (the same zero-codec
    offset arithmetic as mm_bmp_parse), then derive the patch grid +
    right/bottom padding with pure integer math.  Map-only, no
    shuffle — the planning pass that sizes a vision-encoder batch
    before any pixel is decoded."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.synthesize_bmp(docs, "doc_id")
    parsed = M.parse_bmp_metadata(payload, "doc_id")
    px = F.expr("(bmp_width + 15) div 16")
    py = F.expr("(bmp_height + 15) div 16")
    return parsed.select(
        "doc_id",
        F.col("bmp_width").cast("bigint").alias("img_w"),
        F.col("bmp_height").cast("bigint").alias("img_h"),
        px.cast("bigint").alias("patches_x"),
        py.cast("bigint").alias("patches_y"),
        (px * py).cast("bigint").alias("n_patches"),
        (px * 16 - F.col("bmp_width")).cast("bigint").alias("pad_x"),
        (py * 16 - F.col("bmp_height")).cast("bigint").alias("pad_y"),
    )


@register("mm_audio_frame_plan", oracle="""
WITH src AS (
  SELECT doc_id, n_chars * 100 AS n_samples,
         CASE WHEN doc_id % 3 = 0 THEN 16000
              WHEN doc_id % 3 = 1 THEN 22050
              ELSE 44100 END AS sr,
         doc_id % 2 + 1 AS ch
  FROM documents
)
SELECT doc_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS channels,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(sr * 25 // 1000 AS BIGINT) AS win_len,
       CAST(sr * 10 // 1000 AS BIGINT) AS hop_len,
       CAST(CASE WHEN n_samples >= sr * 25 // 1000
                 THEN (n_samples - sr * 25 // 1000) // (sr * 10 // 1000) + 1
                 ELSE 0 END AS BIGINT) AS n_frames,
       CAST(n_samples * 1000 // sr AS BIGINT) AS duration_ms
FROM src
""")
def mm_audio_frame_plan(spark, sf_dir):
    """STFT frame planning (25 ms window / 10 ms hop) from REAL parsed
    WAV headers: sample rate and channels come out of the RIFF payload
    bytes (same parse as mm_wav_parse); sample count is the
    deterministic stub n_chars*100 (no codec in the sandbox — the
    label says so).  All integer division, map-only — the pass that
    sizes an audio-feature batch before decoding a single sample."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.synthesize_wav(docs, "doc_id").select("doc_id", "payload")
    parsed = M.parse_wav_metadata(payload, "doc_id").join(
        docs.select("doc_id", (F.col("n_chars") * 100).alias("n_samples")),
        "doc_id",
    )
    sr = F.col("wav_sample_rate")
    win = F.expr("wav_sample_rate * 25 div 1000")
    hop = F.expr("wav_sample_rate * 10 div 1000")
    return parsed.select(
        "doc_id",
        sr.cast("bigint").alias("sample_rate"),
        F.col("wav_channels").cast("bigint").alias("channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        win.cast("bigint").alias("win_len"),
        hop.cast("bigint").alias("hop_len"),
        F.when(F.col("n_samples") >= win,
               F.expr("(n_samples - wav_sample_rate * 25 div 1000) "
                      "div (wav_sample_rate * 10 div 1000) + 1"))
        .otherwise(F.lit(0)).cast("bigint").alias("n_frames"),
        F.expr("n_samples * 1000 div wav_sample_rate")
        .cast("bigint").alias("duration_ms"),
    )


_CODE_SYMS = list("{}();=<>")
_CODE_KWS = ["def ", "return", "import", "void ", "function"]


def _occurrences_sql(col: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (f"(length({col}) - length(replace({col}, '{esc}', '')))"
            f" // {len(needle)}")


@register("text_code_detect", oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(list_filter(string_split(text, chr(10)),
                            x -> x LIKE '    %' OR x LIKE chr(9) || '%'))
            AS BIGINT) AS indent_lines,
       CAST({' + '.join(_occurrences_sql('text', s) for s in _CODE_SYMS)}
            AS BIGINT) AS sym_count,
       CAST({' + '.join(_occurrences_sql('text', k) for k in _CODE_KWS)}
            AS BIGINT) AS kw_hits,
       ({' + '.join(_occurrences_sql('text', s) for s in _CODE_SYMS)}) * 50
           > length(text)
       OR ({' + '.join(_occurrences_sql('text', k) for k in _CODE_KWS)}) >= 3
         AS is_code
FROM documents
""")
def text_code_detect(spark, sf_dir):
    """Code-vs-prose detection for corpus routing (code gets a
    different tokenizer/mixture weight): symbol density, indented-line
    share, and keyword hits, all via integer counting (occurrences =
    length delta under replace — exact in both engines, no regex
    dialect risk).  Map-only, pure codegen."""
    docs = load_table(spark, sf_dir, "documents")

    def occ(needle: str):
        esc = needle.replace("'", "\\'")
        return F.expr(
            f"(length(text) - length(replace(text, '{esc}', '')))"
            f" div {len(needle)}")

    syms = sum((occ(s) for s in _CODE_SYMS[1:]), occ(_CODE_SYMS[0]))
    kws = sum((occ(k) for k in _CODE_KWS[1:]), occ(_CODE_KWS[0]))
    lines = F.split(F.col("text"), "\n", -1)
    indent = F.expr(
        "size(filter(split(text, '\\n', -1),"
        " x -> x like '    %' or x like '\\t%'))")
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        indent.cast("bigint").alias("indent_lines"),
        syms.cast("bigint").alias("sym_count"),
        kws.cast("bigint").alias("kw_hits"),
        ((syms * 50 > F.length("text")) | (kws >= 3)).alias("is_code"),
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


@register("window_cume_percent", oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
         AS acctbal_cume,
       percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
         AS acctbal_pctrank
FROM customer
""")
def window_cume_percent(spark, sf_dir):
    """cume_dist + percent_rank within market segment — the two
    ANSI distribution window functions (both are single rational
    divisions of rank counters, so the doubles agree bit-for-bit
    across engines).  Partitioned window, segment-keyed."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.cume_dist().over(w).alias("acctbal_cume"),
        F.percent_rank().over(w).alias("acctbal_pctrank"),
    )


@register("asof_nearest_event", oracle="""
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r2 AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
  GROUP BY 1, 2
), b AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.event_id AS rid, r.ts AS rts,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts DESC) AS rn
    FROM l JOIN r2 r ON r.user_id = l.user_id
     AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE
  ) WHERE rn = 1
), f AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.event_id AS rid, r.ts AS rts,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts ASC) AS rn
    FROM l JOIN r2 r ON r.user_id = l.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL
                 OR epoch_us(l.ts) - epoch_us(b.rts)
                    <= epoch_us(f.rts) - epoch_us(l.ts))
            THEN b.rid ELSE f.rid END AS matched_event_id,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL
                 OR epoch_us(l.ts) - epoch_us(b.rts)
                    <= epoch_us(f.rts) - epoch_us(l.ts))
            THEN epoch_us(b.rts) - epoch_us(l.ts)
            WHEN f.rid IS NOT NULL
            THEN epoch_us(f.rts) - epoch_us(l.ts) END AS matched_dt_us
FROM l
LEFT JOIN b ON b.lid = l.event_id
LEFT JOIN f ON f.lid = l.event_id
""")
def asof_nearest_event(spark, sf_dir):
    """NEAREST as-of: each click matched to the closest purchase by
    the same user within +/-30 minutes, either direction (the third
    pandas merge_asof direction, composed from the backward and
    forward one-window passes — still zero extra joins against the
    fact table).  Equal distance prefers the backward match;
    ``matched_dt_us`` is signed (negative = purchase before click)."""
    from ..operators.asof import asof_join_nearest
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof_join_nearest(clicks, purchases, "user_id",
                            right_id="event_id", tolerance_seconds=1800)
    return out.select(
        F.col("event_id"), "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        F.col("matched_event_id"), F.col("matched_dt_us"),
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
    knn = S.cosine_topk_bruteforce(universe, universe, "vec_id",
                                   "embedding", k=5)
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


@register("events_inactivity_gaps", oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, event_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS prev_epoch,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       epoch_us(ts) - epoch_us(prev_ts) AS gap_us
FROM seq WHERE prev_ts IS NOT NULL
ORDER BY gap_us DESC, user_id ASC, event_id ASC
LIMIT 50
""")
def events_inactivity_gaps(spark, sf_dir):
    """Top-50 longest per-user inactivity gaps (lag over the
    user-keyed event sequence) — the signal that calibrates the
    sessionization gap threshold and flags churn-risk dormancy.  One
    keyed window + a global top-k (per-partition TakeOrdered, k rows
    to the driver)."""
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts",
                F.lag("ts").over(w).alias("prev_ts"))
        .filter(F.col("prev_ts").isNotNull())
    )
    return (
        seq.select(
            "user_id", "event_id",
            F.unix_timestamp("prev_ts").cast("bigint").alias("prev_epoch"),
            F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
            (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
        )
        .orderBy(F.desc("gap_us"), F.asc("user_id"), F.asc("event_id"))
        .limit(50)
    )
