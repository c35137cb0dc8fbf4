"""Round-9 ninth wave: subtitle-to-frame alignment (timestamp parse +
range join), T5-style span-corruption planning, an IVF recall audit,
and snapshot histogram drift in ppm.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..registry import register
from ..sources.catalog import load_table, spread_input
from .wave9 import _rdiv_sql
from ..operators.stats import _RDIV


# --------------------------------------------------------------------------
# mm_subtitle_align — SRT cue parsing + per-doc range join
# --------------------------------------------------------------------------

def _srt_sql(ms: str) -> str:
    """DuckDB: format milliseconds as the SRT 'HH:MM:SS,mmm' string."""
    return (f"lpad(CAST(({ms}) // 3600000 AS VARCHAR), 2, '0') || ':' || "
            f"lpad(CAST((({ms}) // 60000) % 60 AS VARCHAR), 2, '0') || ':' || "
            f"lpad(CAST((({ms}) // 1000) % 60 AS VARCHAR), 2, '0') || ',' || "
            f"lpad(CAST(({ms}) % 1000 AS VARCHAR), 3, '0')")


_SRT_PARSE_SQL = ("(CAST(substr({t}, 1, 2) AS BIGINT) * 3600000 "
                  "+ CAST(substr({t}, 4, 2) AS BIGINT) * 60000 "
                  "+ CAST(substr({t}, 7, 2) AS BIGINT) * 1000 "
                  "+ CAST(substr({t}, 10, 3) AS BIGINT))")


@register("mm_subtitle_align", oracle=f"""
WITH cues AS (
  SELECT doc_id,
         {_srt_sql("k * 2000 + doc_id % 500")} AS t_start,
         {_srt_sql("k * 2000 + doc_id % 500 + 1500")} AS t_end
  FROM documents, UNNEST(generate_series(0, doc_id % 4)) AS u(k)
), parsed AS (
  SELECT doc_id,
         {_SRT_PARSE_SQL.format(t="t_start")} AS start_ms,
         {_SRT_PARSE_SQL.format(t="t_end")} AS end_ms
  FROM cues
), frames AS (
  SELECT doc_id, j * 900 + doc_id % 300 AS ts_ms
  FROM documents, UNNEST(generate_series(0, doc_id % 6 + 1)) AS u(j)
), joined AS (
  SELECT f.doc_id, f.ts_ms, p.start_ms
  FROM frames f LEFT JOIN parsed p
    ON p.doc_id = f.doc_id
   AND f.ts_ms >= p.start_ms AND f.ts_ms < p.end_ms
)
SELECT doc_id,
       CAST((SELECT doc_id % 4 + 1) AS BIGINT) AS n_cues,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(start_ms) AS BIGINT) AS n_matched,
       CAST(COUNT(*) - COUNT(start_ms) AS BIGINT) AS n_orphaned
FROM joined GROUP BY doc_id
""")
def mm_subtitle_align(spark, sf_dir):
    """Subtitle-to-frame alignment — the multimodal pairing step that
    turns (video frames, SRT captions) into supervised pairs: SRT cue
    times are BUILT as 'HH:MM:SS,mmm' strings, PARSED back to
    milliseconds by fixed-position substring arithmetic (the format
    round trip is the operator under test), then sampled frame
    timestamps range-join to cues WITHIN THE SAME doc — the join is
    doc-keyed first, so the range predicate only ever scans one
    clip's cues (bounded per key; at 100 TB the classic mistake is a
    global time-range join across clips).  Frames in inter-cue gaps
    come out orphaned via the left join."""
    # repartition before the per-doc cue build (one-split fixture ->
    # one task; real corpora parallelize via file splits)
    docs = spread_input(load_table(spark, sf_dir, "documents").select("doc_id"),
                        F.col("doc_id"))
    did = F.col("doc_id")

    def srt(ms):
        return F.concat(
            F.lpad((ms / 3600000).cast("bigint").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((ms / 60000).cast("bigint") % 60).cast("string"),
                   2, "0"),
            F.lit(":"),
            F.lpad(((ms / 1000).cast("bigint") % 60).cast("string"),
                   2, "0"),
            F.lit(","),
            F.lpad((ms % 1000).cast("string"), 3, "0"),
        )

    cues = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (did % 4).cast("int"))).alias("k"),
    ).select(
        "doc_id",
        srt(F.col("k") * 2000 + did % 500).alias("t_start"),
        srt(F.col("k") * 2000 + did % 500 + 1500).alias("t_end"),
    )

    def parse(t):
        return (F.substring(t, 1, 2).cast("bigint") * 3600000
                + F.substring(t, 4, 2).cast("bigint") * 60000
                + F.substring(t, 7, 2).cast("bigint") * 1000
                + F.substring(t, 10, 3).cast("bigint"))

    # both sides descend from the same docs scan — rename the cue
    # side's key so the equi-join can never resolve to a trivially
    # true self-comparison
    parsed = cues.select(
        F.col("doc_id").alias("cue_doc"),
        parse(F.col("t_start")).alias("start_ms"),
        parse(F.col("t_end")).alias("end_ms"))
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (did % 6 + 1).cast("int")))
        .alias("j"),
    ).select("doc_id", (F.col("j") * 900 + did % 300).alias("ts_ms"))
    joined = frames.join(
        parsed,
        (F.col("doc_id") == F.col("cue_doc"))
        & (F.col("ts_ms") >= F.col("start_ms"))
        & (F.col("ts_ms") < F.col("end_ms")),
        "left").select("doc_id", "ts_ms", "start_ms")
    return joined.groupBy("doc_id").agg(
        (F.first(F.col("doc_id")) % 4 + 1).cast("bigint").alias("n_cues"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.count("start_ms").cast("bigint").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("start_ms")).cast("bigint")
        .alias("n_orphaned"),
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


_IVF_RECALL_ORACLE = """
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
), iscored AS (
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
), brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM bscored) WHERE rank <= 5
)
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
    ivf = S.ivf_topk(emb, queries, "vec_id", "embedding",
                     k=5, centroid_stride=32, nprobe=4) \
        .select("query_id", F.col("neighbor_id").alias("ivf_n"))
    brute = S.cosine_topk_bruteforce(emb, queries, "vec_id", "embedding",
                                     k=5) \
        .select("query_id", "neighbor_id")
    j = brute.join(
        ivf,
        (brute["query_id"] == ivf["query_id"])
        & (F.col("neighbor_id") == F.col("ivf_n")),
        "left").select(brute["query_id"], "neighbor_id", "ivf_n")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_true"),
        F.count("ivf_n").cast("bigint").alias("n_hits"),
    ).select(
        "query_id", "k_true", "n_hits",
        F.expr(_RDIV.format(a="1000000 * n_hits", b="k_true"))
        .cast("bigint").alias("recall_ppm"))


_HIST_BUCKET = 100

@register("profile_histogram_l1_drift", oracle=f"""
WITH a AS (
  SELECT n_chars // {_HIST_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS ca
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT n_chars // {_HIST_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cb
  FROM documents WHERE doc_id % 3 != 1 GROUP BY 1
), na AS (SELECT CAST(SUM(ca) AS BIGINT) AS n FROM a),
nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS n FROM b),
j AS (
  SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM a FULL OUTER JOIN b ON b.bucket = a.bucket
)
SELECT bucket, ca, cb,
       CAST({_rdiv_sql("1000000 * ca", "(SELECT n FROM na)")} AS BIGINT)
         AS pa_ppm,
       CAST({_rdiv_sql("1000000 * cb", "(SELECT n FROM nb)")} AS BIGINT)
         AS pb_ppm,
       CAST(abs({_rdiv_sql("1000000 * ca", "(SELECT n FROM na)")}
                - {_rdiv_sql("1000000 * cb", "(SELECT n FROM nb)")})
            AS BIGINT) AS l1_contrib_ppm
FROM j
""")
def profile_histogram_l1_drift(spark, sf_dir):
    """Distributional drift between two corpus snapshots (the
    profile_snapshot_drift pair: even doc_ids vs non-(3k+1)) as the L1
    distance between their normalized length histograms — the
    monitor that catches SHAPE changes the scalar min/max/sum drift
    row misses.  Each side's share is rounded to ppm FIRST and the
    per-bucket |Δ| is exact integer arithmetic — no p*log(p/q)
    floating point, no cross-product overflow (a naive ca*nb
    cross-multiply outgrows int64 past ~3e9 rows/side).  Two grouped
    counts + one bucket-keyed outer join; the histogram is
    domain-sized."""
    docs = load_table(spark, sf_dir, "documents")
    a = (docs.filter(F.col("doc_id") % 2 == 0)
         .groupBy(F.expr(f"n_chars div {_HIST_BUCKET}").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("ca")))
    b = (docs.filter(F.col("doc_id") % 3 != 1)
         .groupBy(F.expr(f"n_chars div {_HIST_BUCKET}").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("cb")))
    na = a.agg(F.sum("ca").cast("bigint").alias("n"))
    nb = b.agg(F.sum("cb").cast("bigint").alias("n"))
    j = (a.join(b, "bucket", "full_outer")
         .select("bucket",
                 F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb"))
         .crossJoin(F.broadcast(na.select(F.col("n").alias("na"))))
         .crossJoin(F.broadcast(nb.select(F.col("n").alias("nb")))))
    pa = F.expr(_RDIV.format(a="1000000 * ca", b="na")).cast("bigint")
    pb = F.expr(_RDIV.format(a="1000000 * cb", b="nb")).cast("bigint")
    return j.select(
        "bucket", "ca", "cb",
        pa.alias("pa_ppm"), pb.alias("pb_ppm"),
        F.abs(pa - pb).cast("bigint").alias("l1_contrib_ppm"))
