"""SQL fragments and helpers that queries of several domain modules share.

Oracle fragments are plain strings that a query composes by
concatenation (``"WITH " + _SHINGLES + ", counts AS (..."``) or by
interpolation inside an f-string oracle; either way the composed text
is byte-equal to writing it out, which the oracle digests in
``tests/registry_manifest.json`` pin.  A fragment used by one domain
lives in that domain's module instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.text import winnowing_sql
from ..sources.catalog import load_events, load_table

#: distinct 4-word shingles ``sh(doc_id, shingle)`` of ``words(doc_id, w)``
_SH0_SH = """sh0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
)"""

#: distinct 4-word shingles per document: ``sh(doc_id, shingle)``
_SHINGLES = """words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), """ + _SH0_SH

#: distinct 4-word shingles per document (``sh``), their counts and the
#: shared-shingle count of every document pair (``pairs``)
_SHINGLE_PAIRS = _SHINGLES + """, counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

#: the ``sim`` pairs as an undirected edge list
_SIM_EDGES = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM sim
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM sim
)"""

#: the transitive closure of ``edges`` (WITH RECURSIVE): ``reach``
#: holds (a, b) for every b reachable from a
_REACH = """reach AS (
  SELECT src AS a, src AS b FROM edges
  UNION
  SELECT r.a, e.dst AS b
  FROM reach r JOIN edges e ON r.b = e.src
)"""

#: 4-word shingles -> exact Jaccard >= 0.5 pairs -> the transitive
#: closure of the pair graph (WITH RECURSIVE); ``reach`` holds (a, b)
#: for every b reachable from a
_SHINGLE_REACH = """
WITH RECURSIVE """ + _SHINGLE_PAIRS + """, sim AS (
  SELECT doc_a, doc_b FROM pairs
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
), """ + _SIM_EDGES + """, """ + _REACH

#: words, token count and non-space characters per document
_DOC_TOKENS = """x AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS alpha_chars
  FROM documents
)"""

#: the linear quality score over the per-document features ``f``
_QUALITY_SCORE = """         CAST(round(
           CAST(-3.0 AS DECIMAL(12,6))
           + CAST(0.02 AS DECIMAL(12,6)) * CAST(n_tokens AS DECIMAL(12,6))
           + CAST(0.25 AS DECIMAL(12,6)) * CAST(avg_token_len AS DECIMAL(12,6))
           + CAST(2.0 AS DECIMAL(12,6)) * CAST(uniq_ratio AS DECIMAL(12,6))
           + CAST(-3.0 AS DECIMAL(12,6)) * CAST(stopword_ratio AS DECIMAL(12,6)),
         6) AS DOUBLE) AS score
  FROM f
"""

#: documents of sources src10+ whose text no earlier source holds
_NEW_BATCH_UNSEEN = """
SELECT d.doc_id, d.source
FROM documents d
WHERE CAST(substr(d.source, 4) AS BIGINT) >= 10
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE CAST(substr(c.source, 4) AS BIGINT) < 10
      AND c.text IS NOT DISTINCT FROM d.text
  )
"""

#: 1-hour tumbling windows per event type (batch and streaming twins)
_TUMBLING_1H = """
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

#: 1-hour windows sliding every 30 minutes (batch and streaming twins)
_SLIDING_30M = """
WITH b AS (
  SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS s, value FROM events
), expanded AS (
  SELECT s AS window_start, value FROM b
  UNION ALL
  SELECT s - 1800 AS window_start, value FROM b
)
SELECT window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1
"""

#: per-user sessions split by 10-minute gaps (batch and streaming twins)
_SESSIONS_10M = """
WITH x AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), y AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM x
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM y
GROUP BY user_id, sess_id
"""

#: whole-dollar order value per day (``daily``) and its sum and count
_DAILY_ORDER_VALUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
)"""


_CDC_MERGE_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, event_type, value,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
), target AS (
  SELECT user_id, event_id, event_type, value, ts_us FROM base WHERE rn = 1
), ch AS (
  SELECT user_id, event_id, event_type, value,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
), latest AS (SELECT * FROM ch WHERE rn = 1)
SELECT t.user_id, t.event_id, t.event_type, t.value, t.ts_us
FROM target t LEFT JOIN latest l ON l.user_id = t.user_id
WHERE l.user_id IS NULL
UNION ALL
SELECT user_id, event_id, event_type, value, ts_us
FROM latest WHERE op <> 'D'
"""


_CDC_CUTOFF = "2024-01-16 00:00:00"


def _cdc_target_and_changes(spark, sf_dir):
    """Shared setup: pre-cutoff events compacted into a per-user
    snapshot (the target), post-cutoff events as the changelog with
    op = D for 'error' events (the takedown/correction signal), U
    otherwise.  Seq key = (ts_us, event_id) — total order."""
    from ..operators import cdc as CD

    ev = load_events(spark, sf_dir)
    cut = F.to_timestamp(F.lit(_CDC_CUTOFF))

    def state_shape(df):
        return df.select(
            "user_id", "event_id", "event_type", "value",
            F.unix_micros("ts").alias("ts_us"),
        )

    target = state_shape(
        CD.compact_changelog(ev.filter(F.col("ts") < cut),
                             ["user_id"], ["ts", "event_id"]))
    changes = state_shape(ev.filter(F.col("ts") >= cut)).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
    )
    return target, changes


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# DuckDB-side rounded non-negative integer division (same contract as
# operators/stats._RDIV, `//` instead of `div`).  The result is
# OUTER-PARENTHESIZED — without it, embedding the macro after a
# binary minus (e.g. ``abs(rdiv_a - rdiv_b)``) textually distributes
# the minus over only the division term and ADDS the rounding
# correction instead of subtracting it: the exact +2-ppm divergence
# the sf0.1 oracle sweep caught in profile_histogram_l1_drift.
def _rdiv_sql(a: str, b: str) -> str:
    return (f"((({a}) // ({b})) + "
            f"(CASE WHEN 2 * (({a}) % ({b})) >= ({b}) THEN 1 ELSE 0 END))")


_EPRICE_CENTS = ("CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) "
                 "* 100 AS BIGINT)")


_TP_CENTS = ("CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) "
             "* 100 AS BIGINT)")


_VAL_CENTS = ("CAST(CAST(round(value, 2) AS DECIMAL(18,2)) "
              "* 100 AS BIGINT)")


_WINNOW_SQL = winnowing_sql("documents", "doc_id", "text")


# ---------------------------------------------------------------------------
# URL synthesis (both engines build the identical string from doc_id)
# ---------------------------------------------------------------------------
# variant axes: scheme, www prefix, name pool, tld, port (absent /
# non-default kept / default dropped), path depth, trailing slash,
# query (unsorted params / single / none), fragment.  The axes use
# different moduli so CRT guarantees ids that differ ONLY in axes the
# canonicalizer erases — real duplicate clusters for the dedup query.
_URL_SQL = """
SELECT doc_id,
  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
  || '://'
  || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
  || (CASE doc_id % 7 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
      WHEN 2 THEN 'gamma' WHEN 3 THEN 'delta' WHEN 4 THEN 'epsilon'
      WHEN 5 THEN 'zeta' ELSE 'eta' END)
  || '.' || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
             ELSE 'net' END)
  || (CASE WHEN doc_id % 5 = 0 THEN ':8443'
      WHEN doc_id % 5 = 1 THEN
        (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      ELSE '' END)
  || repeat('/dir', doc_id % 4)
  || (CASE WHEN doc_id % 2 = 0 AND doc_id % 4 > 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1'
      WHEN doc_id % 3 = 1 THEN '?a=1' ELSE '' END)
  || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
FROM documents
"""


def _urls(spark, sf_dir):
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.element_at(
            F.array(*[F.lit(s) for s in
                      ("alpha", "beta", "gamma", "delta", "epsilon",
                       "zeta", "eta")]),
            (did % 7 + 1).cast("int")),
        F.lit("."),
        F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")),
                     (did % 3 + 1).cast("int")),
        F.when(did % 5 == 0, F.lit(":8443"))
        .when(did % 5 == 1,
              F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .otherwise(F.lit("")),
        F.expr("repeat('/dir', doc_id % 4)"),
        F.when((did % 2 == 0) & (did % 4 > 0), F.lit("/"))
        .otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("?b=2&a=1"))
        .when(did % 3 == 1, F.lit("?a=1")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (load_table(spark, sf_dir, "documents")
            .select("doc_id", url.alias("url")))


# regex pieces shared by both engines (RE2- and Java-safe: character
# classes only, no lookaround/backrefs)
_RE_SCHEME = "^([a-z]+)://"


_RE_HOSTPORT = "^[a-z]+://([^/?#]+)"


_RE_HOST = "^([^:]+)"


_RE_PORT = ":([0-9]+)$"


_RE_PATH = "^[a-z]+://[^/?#]+([^?#]*)"


_RE_QUERY = r"\?([^#]*)"

#: the AUDIT query's fixed sizing: 2^20 bits (16 K words / 128 KiB),
#: k = 5 probes — fixed so the DuckDB oracle replicates the exact bit
#: content, and so fp_ppm visibly degrades as the store outgrows it
_NUM_BITS = 1 << 20


_K = 5

#: k md5-seeded positions per ``store`` shingle in a _NUM_BITS-bit
#: filter, OR-ed into 64-bit words; bit 63 is CASEd around the
#: signed-shift overflow both engines share
_BLOOM_WORDS = f"""seeds AS (SELECT unnest([{", ".join(str(i) for i in range(_K))}]) AS i),
spos AS (
  SELECT s.shingle,
         ('0x' || substr(md5(i::VARCHAR || ':' || s.shingle), 1, 15))
           ::BIGINT % {_NUM_BITS} AS pos
  FROM store s, seeds
), bloom AS (
  SELECT CAST(pos // 64 AS BIGINT) AS w,
         CAST(bit_or(CASE WHEN pos % 64 = 63
                          THEN (-9223372036854775807)::BIGINT - 1
                          ELSE 1::BIGINT << CAST(pos % 64 AS INT) END)
              AS BIGINT) AS word
  FROM spos GROUP BY 1
)"""


def _sized_bits(n_keys: int) -> int:
    """Filter sizing at store-build time: ~16 bits/key (fp ~0.3% at
    k=5), next power of two, clamped to [2^16, 2^26].  The cap keeps
    the words table (num_bits/64 longs) at 1 M rows / ~16 MiB —
    broadcast-comfortable next to two checkpointed corpus-sized
    shingle frames in one executor heap (2^28 measurably OOM'd the
    sf10 single-JVM run).  Past ~4 M store keys the fp rate degrades
    instead of the memory — measurably (bloom_store_fp_audit, e.g.
    ~7% at 12 M keys), never as an OOM; pruning 93% of a new crawl
    is still the win."""
    bits = max(1 << 16, 16 * max(n_keys, 1))
    return min(1 << max(bits - 1, 1).bit_length(), 1 << 26)
