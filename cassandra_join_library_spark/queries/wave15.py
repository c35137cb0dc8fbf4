"""Round-9 second wave: winnowing (MOSS) fingerprints + fingerprint
near-dup pairs, deterministic stratified sampling, and Fellegi-Sunter
entity-match scoring over blocked candidates.

All extension surface (SURVEY.md §2.6 — the reference has no text /
dedup / sampling code); exact-value DuckDB oracles under the repo
parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.stats import _RDIV
from ..operators.text import winnowing_fingerprints, winnowing_sql
from ..registry import register
from ..sources.catalog import load_table
from .wave9 import _rdiv_sql

_WINNOW_SQL = winnowing_sql("documents", "doc_id", "text")


@register("text_winnowing_fingerprints", oracle=_WINNOW_SQL)
def text_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection (operators/text.py
    winnowing_fingerprints): min-hash-of-window over char 5-gram
    hashes, rightmost tie-break — any shared substring of length >= 8
    is guaranteed to share a fingerprint while only ~2/(w+1) of grams
    are kept.  Map-only higher-order functions; the trailing DISTINCT
    is the lone (map-side-combined) shuffle; all-integer hashing gives
    byte-exact DuckDB parity."""
    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")


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
