"""Round-8 fourth wave: cross-table reconciliation, cohort LTV,
RAKE keywords, a Zipf rank-frequency audit, the rich-club
coefficient, difference-in-differences, minimal k-anonymity
generalization, and PCM silence segmentation.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions (integer cents/micro units, rounded
integer division, fixed IEEE trees, aliased columns)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators.graph import rich_club
from ..operators.profiling import generalize_to_k
from ..operators.stats import _RDIV, did_2x2
from ..operators.text import rake_keywords
from ..registry import register
from ..sources.catalog import load_events, load_table
from .wave4 import _EDGE_CTE
from .wave4 import _copurchase_edges
from .wave7 import _PCM_N, _WAV_PCM_ORACLE
from .wave9 import _rdiv_sql


_EPRICE_CENTS = ("CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) "
                 "* 100 AS BIGINT)")
_TP_CENTS = ("CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) "
             "* 100 AS BIGINT)")
_VAL_CENTS = ("CAST(CAST(round(value, 2) AS DECIMAL(18,2)) "
              "* 100 AS BIGINT)")
_BAL_CENTS = ("CAST(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) "
              "* 100 AS BIGINT)")


@register("profile_order_reconciliation", oracle=f"""
WITH lo AS (
  SELECT l_orderkey AS ok,
         CAST(SUM({_EPRICE_CENTS}) AS BIGINT) AS l_cents
  FROM lineitem GROUP BY 1
), d AS (
  SELECT {_TP_CENTS} - COALESCE(l_cents, 0) AS diff
  FROM orders LEFT JOIN lo ON lo.ok = o_orderkey
)
SELECT CASE WHEN diff = 0 THEN 0
            ELSE CAST(sign(diff) AS BIGINT)
                 * length(CAST(abs(diff) AS VARCHAR)) END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(diff) AS BIGINT) AS min_diff,
       CAST(MAX(diff) AS BIGINT) AS max_diff
FROM d GROUP BY 1
""")
def profile_order_reconciliation(spark, sf_dir):
    """Cross-table money reconciliation: o_totalprice vs the order's
    summed lineitem extended prices, cent-exact, reported as a signed
    digit-count bucket histogram of the mismatch (bucket 0 = exact
    match, +4 = overcharge of 1000-9999 cents, ...).  The audit a
    pipeline runs before trusting either column as ground truth.
    Shape: one lineitem aggregate + a key join + a bounded histogram
    — no windows, map-side combinable throughout."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lo = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(F.expr(_EPRICE_CENTS)).cast("bigint").alias("l_cents"))
    d = (
        o.join(lo, o.o_orderkey == lo.ok, "left")
        .select((F.expr(_TP_CENTS)
                 - F.coalesce(F.col("l_cents"), F.lit(0)))
                .alias("diff"))
    )
    bucket = F.when(F.col("diff") == 0, F.lit(0)).otherwise(
        F.signum("diff").cast("bigint")
        * F.length(F.abs(F.col("diff")).cast("string")))
    return d.groupBy(bucket.cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("diff").cast("bigint").alias("min_diff"),
        F.max("diff").cast("bigint").alias("max_diff"),
    )


@register("events_cohort_ltv", oracle=f"""
WITH ev AS (
  SELECT user_id,
         (year(ts) - 2024) * 12 + month(ts) - 1 AS mi,
         {_VAL_CENTS} AS cents
  FROM events
), cohorts AS (
  SELECT user_id, MIN(mi) AS cohort FROM ev GROUP BY 1
)
SELECT CAST(cohort AS BIGINT) AS cohort_month,
       CAST(mi - cohort AS BIGINT) AS age_months,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM ev JOIN cohorts ON cohorts.user_id = ev.user_id
GROUP BY 1, 2
""")
def events_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix: users bucketed by first-activity
    month, revenue accumulated per (cohort, age-in-months) cell — the
    money sibling of the retention-cohort count matrix.  Cent-exact
    sums; the cohort assignment is one user-keyed aggregate joined
    back (user-keyed shuffle, no windows); the matrix itself is
    calendar-bounded."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        ((F.year("ts") - 2024) * 12 + F.month("ts") - 1).alias("mi"),
        F.expr(_VAL_CENTS).alias("cents"),
    )
    cohorts = ev.groupBy("user_id").agg(F.min("mi").alias("cohort"))
    return (
        ev.join(cohorts, "user_id")
        .groupBy(
            F.col("cohort").cast("bigint").alias("cohort_month"),
            (F.col("mi") - F.col("cohort")).cast("bigint")
            .alias("age_months"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.countDistinct("user_id").cast("bigint").alias("n_users"),
             F.sum("cents").cast("bigint").alias("revenue_cents"))
    )


@register("text_rake_keywords", oracle="""
WITH w0 AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), words AS (
  SELECT doc_id, u.pos AS pos, u.word AS word
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w)),
                      i -> {'pos': i, 'word': w[i]})) AS u
        FROM w0)
  WHERE u.word <> ''
), stop AS (
  SELECT word FROM words GROUP BY word
  ORDER BY COUNT(*) DESC, word LIMIT 10
), marked AS (
  SELECT words.doc_id, words.pos, words.word,
         CASE WHEN stop.word IS NULL THEN 0 ELSE 1 END AS is_stop
  FROM words LEFT JOIN stop ON stop.word = words.word
), seg AS (
  SELECT doc_id, word, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM marked
), nonstop AS (
  SELECT doc_id, word, phrase_id FROM seg WHERE is_stop = 0
), plen AS (
  SELECT doc_id, phrase_id, COUNT(*) AS plen
  FROM nonstop GROUP BY 1, 2
)
SELECT nonstop.word AS word,
       CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(SUM(plen) AS BIGINT) AS degree,
       CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ratio
FROM nonstop
JOIN plen ON plen.doc_id = nonstop.doc_id
         AND plen.phrase_id = nonstop.phrase_id
GROUP BY 1
ORDER BY degree DESC, word
LIMIT 20
""")
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction with a data-driven stopword list
    (operators/text.py rake_keywords): the 10 most frequent corpus
    words delimit candidate phrases; each word scores the summed
    length of its phrases (degree) against its frequency.  Stopword
    list broadcasts; phrase segmentation is a document-partitioned
    running sum — no global windows."""
    docs = load_table(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text",
                         n_stopwords=10, top=20)


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


@register("graph_rich_club", oracle=f"""
WITH {_EDGE_CTE},
d AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), per_d AS (
  SELECT deg, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1
), cum AS (
  SELECT deg,
         CAST(SUM(c) OVER (ORDER BY deg ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM per_d
), thr AS (
  SELECT CAST(MIN(deg) AS BIGINT) AS deg_threshold
  FROM cum WHERE 100 * cum >= 90 * n
), rich AS (
  SELECT d.n AS node FROM d CROSS JOIN thr
  WHERE d.deg > thr.deg_threshold
), mr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_rich
  FROM e JOIN rich ru ON ru.node = e.u
         JOIN rich rv ON rv.node = e.v
), nr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich
)
SELECT deg_threshold, n_rich, m_rich,
       CASE WHEN n_rich >= 2
            THEN CAST(2 * m_rich AS DOUBLE)
                 / CAST(n_rich * (n_rich - 1) AS DOUBLE) END AS phi
FROM thr CROSS JOIN nr CROSS JOIN mr
""")
def graph_rich_club(spark, sf_dir):
    """Rich-club coefficient of the co-purchase graph above the exact
    90th-percentile degree (operators/graph.py rich_club): do hubs
    interconnect?  The degree CDF and threshold are domain-bounded;
    the rich set broadcasts against one edge-list pass; phi is one
    fixed IEEE division."""
    return rich_club(_copurchase_edges(spark, sf_dir), pct=90)


@register("events_did_readout", oracle=f"""
WITH m AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
              THEN 1 ELSE 0 END AS period,
         {_VAL_CENTS} AS cents
  FROM events
), g AS (
  SELECT
    CAST(SUM(CASE WHEN variant=0 AND period=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
    CAST(SUM(CASE WHEN variant=0 AND period=0 THEN cents ELSE 0 END) AS BIGINT) AS s00,
    CAST(SUM(CASE WHEN variant=0 AND period=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN variant=0 AND period=1 THEN cents ELSE 0 END) AS BIGINT) AS s01,
    CAST(SUM(CASE WHEN variant=1 AND period=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN variant=1 AND period=0 THEN cents ELSE 0 END) AS BIGINT) AS s10,
    CAST(SUM(CASE WHEN variant=1 AND period=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN variant=1 AND period=1 THEN cents ELSE 0 END) AS BIGINT) AS s11
  FROM m
), mm AS (
  SELECT *,
    CAST(CASE WHEN n00 > 0
         THEN {_rdiv_sql("1000000 * s00", "n00")} END AS BIGINT) AS m00,
    CAST(CASE WHEN n01 > 0
         THEN {_rdiv_sql("1000000 * s01", "n01")} END AS BIGINT) AS m01,
    CAST(CASE WHEN n10 > 0
         THEN {_rdiv_sql("1000000 * s10", "n10")} END AS BIGINT) AS m10,
    CAST(CASE WHEN n11 > 0
         THEN {_rdiv_sql("1000000 * s11", "n11")} END AS BIGINT) AS m11
  FROM g
)
SELECT n00, s00, n01, s01, n10, s10, n11, s11, m00, m01, m10, m11,
       CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS did_micro
FROM mm
""")
def events_did_readout(spark, sf_dir):
    """Difference-in-differences readout (operators/stats.py did_2x2)
    over a deterministic 2x2 design: variant = user parity, period =
    before/after Feb 2024, outcome = event value in cents.  One
    map-side-combinable aggregate; per-cell means in rounded
    micro-cents; the DiD estimate is pure BIGINT arithmetic."""
    ev = load_events(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("ts") >= F.lit("2024-01-15 00:00:00")
               .cast("timestamp"), 1).otherwise(0).alias("period"),
        F.expr(_VAL_CENTS).alias("cents"),
    )
    return did_2x2(ev, "variant", "period", "cents")


@register("privacy_generalize_to_k", oracle=f"""
WITH base AS (
  SELECT c_nationkey AS cat, ({_BAL_CENTS} + 100000) AS bal
  FROM customer
), p1 AS (
  SELECT CAST(10000 AS BIGINT) AS width,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(c) AS BIGINT) AS min_class
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 10000)
), p2 AS (
  SELECT CAST(100000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 100000)
), p3 AS (
  SELECT CAST(1000000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 1000000)
), p4 AS (
  SELECT CAST(10000000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 10000000)
), allw AS (
  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL
  SELECT * FROM p3 UNION ALL SELECT * FROM p4
)
SELECT width, n_classes, min_class,
       min_class >= 5 AS achieves_k,
       COALESCE(width = MIN(CASE WHEN min_class >= 5
                            THEN width END) OVER (), FALSE)
         AS chosen
FROM allw
""")
def privacy_generalize_to_k(spark, sf_dir):
    """Minimal-generalization k-anonymity search
    (operators/profiling.py generalize_to_k): nation as the
    categorical quasi-identifier, account balance (shifted to
    non-negative cents) generalized at $100 / $1k / $10k / $100k
    bucket widths (the last fully suppresses the numeric QI); one
    corpus pass at the finest width, coarser widths re-aggregate the
    bucket table; the smallest width whose minimum equivalence class
    reaches k = 5 is flagged ``chosen``."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").alias("cat"),
        (F.expr(_BAL_CENTS) + 100000).alias("bal"),
    )
    return generalize_to_k(
        base, "cat", "bal", [10000, 100000, 1000000, 10000000], k=5)


_SILENCE_ORACLE = (
    _WAV_PCM_ORACLE[:_WAV_PCM_ORACLE.rindex("SELECT doc_id,")]
    + f""", pos AS (
  SELECT doc_id, n_samples,
         unnest(list_transform(generate_series(1, CAST(n_samples AS INT)),
                i -> {{'i': i, 'v': sm[i]}})) AS u
  FROM s
), f AS (
  SELECT doc_id, n_samples, u.i AS i,
         CASE WHEN abs(u.v) < 4096 THEN 1 ELSE 0 END AS sil
  FROM pos
), r AS (
  SELECT doc_id, n_samples, i, sil,
         CASE WHEN sil = 1 AND COALESCE(LAG(sil) OVER
           (PARTITION BY doc_id ORDER BY i), 0) = 0
           THEN 1 ELSE 0 END AS new_run
  FROM f
), runs AS (
  SELECT doc_id, i, sil,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM r
), runlen AS (
  SELECT doc_id, run_id, CAST(COUNT(*) AS BIGINT) AS len
  FROM runs WHERE sil = 1 GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(MAX(len) AS BIGINT) AS longest_run
  FROM runlen GROUP BY 1
), sil_tot AS (
  SELECT doc_id, CAST(SUM(sil) AS BIGINT) AS n_silent FROM f GROUP BY 1
)
SELECT s.doc_id, CAST(s.n_samples AS BIGINT) AS n_samples,
       COALESCE(sil_tot.n_silent, 0) AS n_silent,
       COALESCE(per_doc.n_runs, 0) AS n_runs,
       COALESCE(per_doc.longest_run, 0) AS longest_run
FROM s
LEFT JOIN sil_tot ON sil_tot.doc_id = s.doc_id
LEFT JOIN per_doc ON per_doc.doc_id = s.doc_id
"""
)


@register("mm_pcm_silence_runs", oracle=_SILENCE_ORACLE)
def mm_pcm_silence_runs(spark, sf_dir):
    """Voice-activity segmentation minus the codec
    (operators/multimodal.py pcm_silence_runs): silent-sample
    run-length statistics (|v| < 4096) decoded straight from the
    synthesized WAV bytes.  The Spark side is one map-only
    ``aggregate`` fold carrying 4 integers of state per row; the SQL
    twin replays the runs with document-partitioned windows over the
    unnested samples — different plans, identical integers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_silence_runs(built, "doc_id", threshold=4096)
