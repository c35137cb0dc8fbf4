"""Round-9 seventh wave: Count-Min Sketch heavy hitters (batch +
streaming-final), small-file compaction planning, the Mann-Whitney U
test, and a two-level MP4 box walk.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_counter_table,
    cms_counters_sql,
    cms_estimate,
)
from ..registry import register
from ..sources.catalog import load_events, load_table, spread_input
from .wave9 import _rdiv_sql
from ..operators.stats import _RDIV, staged_ppm


_CMS_TOPK = 20

_CMS_WORDS_SQL = cms_counters_sql(
    "(SELECT unnest(string_split(text, ' ')) AS term FROM documents)",
    "term",
)

@register("approx_topk_cms", oracle=f"""
WITH counters AS ({_CMS_WORDS_SQL}),
exact AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY 1
), tops AS (
  SELECT term, n_exact,
         row_number() OVER (ORDER BY n_exact DESC, term) AS rk
  FROM exact QUALIFY rk <= {_CMS_TOPK}
), cells AS (
  SELECT term, n_exact, rk, i.i AS i,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|' || term), 1, 15))
           ::BIGINT % {CMS_WIDTH} AS col
  FROM tops, (SELECT unnest([{", ".join(str(i) for i in range(CMS_DEPTH))}])
              AS i) i
)
SELECT cells.term, CAST(rk AS BIGINT) AS rk, n_exact,
       CAST(MIN(cnt) AS BIGINT) AS cms_est,
       MIN(cnt) >= n_exact AS over_ok
FROM cells JOIN counters USING (i, col)
GROUP BY 1, 2, 3
""")
def approx_topk_cms(spark, sf_dir):
    """Heavy-hitter counts via a PORTABLE Count-Min Sketch
    (operators/sketch.py): d={d} md5-salted hash rows x w={w} counters
    — {dw} BIGINT cells total, REGARDLESS of vocabulary size, built by
    one map-side-combined grouped count over the token stream.  The
    true top-{k} tokens (by exact count, token tiebreak) are then
    point-queried against the sketch: the estimate is the per-row MIN
    and is GRADED — including ``over_ok``, the Count-Min one-sided
    guarantee (estimate >= truth, always).  This is the 100 TB
    frequent-items shape: the corpus pass shuffles {dw} cells, not a
    vocabulary; the exact side here is the audit, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term"))
    counters = cms_counter_table(toks, "term")
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    w = Window.orderBy(F.col("n_exact").desc(), "term")
    tops = (exact.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= _CMS_TOPK))
    est = cms_estimate(tops.select("term"), counters, "term")
    return (tops.join(est, "term")
            .select("term", "rk", "n_exact", "cms_est",
                    (F.col("cms_est") >= F.col("n_exact"))
                    .alias("over_ok")))


approx_topk_cms.__doc__ = approx_topk_cms.__doc__.format(
    d=CMS_DEPTH, w=CMS_WIDTH, dw=CMS_DEPTH * CMS_WIDTH, k=_CMS_TOPK)


_CMS_USERS_SQL = cms_counters_sql("events", "CAST(user_id AS VARCHAR)")

@register("stream_cms_final", oracle=f"""
SELECT i, col, cnt FROM ({_CMS_USERS_SQL})
""")
def stream_cms_final(spark, sf_dir):
    """POST-ALL-BATCHES Count-Min state, built BY the streaming
    engine: the (row, bucket) grouped COUNT runs as a Structured
    Streaming aggregation (complete mode, AvailableNow) over the
    per-user event stream.  Counters merge by SUM, so the final
    streaming state equals the one-shot batch counter table
    bit-for-bit no matter how the micro-batches sliced the input —
    the additive-sketch twin of ``stream_hll_final`` (MAX-mergeable).
    Together they cover the two merge algebras every distributed
    sketch at 100 TB reduces to.  State is O(d*w) per stream,
    independent of cardinality; the full final table is
    value-oracled."""
    from ..streaming import windows as W

    stream = W.read_events_stream(spark, sf_dir)
    regs = cms_counter_table(
        stream.select(F.col("user_id").cast("string").alias("term")),
        "term")
    name, _ = W.run_to_memory(regs, output_mode="complete")
    return spark.table(name).select("i", "col", "cnt")


_BIN_TARGET = 32768

@register("layout_compaction_bins", oracle=f"""
WITH c AS (
  SELECT source, n_chars,
         CAST(SUM(n_chars) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents
), b AS (
  SELECT source, n_chars,
         CAST((cum - n_chars) // {_BIN_TARGET} AS BIGINT) AS bin
  FROM c
)
SELECT source, bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST({_rdiv_sql(f"1000000 * SUM(n_chars)", str(_BIN_TARGET))}
            AS BIGINT) AS fill_ppm
FROM b GROUP BY 1, 2
""")
def layout_compaction_bins(spark, sf_dir):
    """Small-file compaction planning — the table-maintenance pass
    every 100 TB lake needs: assign files (documents, sized by
    n_chars) to target-size output bins ({target} chars) by cumulative
    offset in a DETERMINISTIC md5 order, one plan row per output file.
    The window is partitioned BY SOURCE — compaction is per partition
    directory, so per-key state stays bounded and the planner
    parallelizes across partitions instead of the classic mistake of
    one global ORDER BY over the file manifest.  Next-fit by exclusive
    prefix sum: bin = (cum - size) div target — files straddle
    boundaries rather than leaving slack, matching coalesce-style
    byte-range planning.  ``fill_ppm`` grades each bin's fill factor
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    c = docs.select(
        "source", "n_chars",
        F.sum("n_chars").over(w).cast("bigint").alias("cum"))
    b = c.select(
        "source", "n_chars",
        F.expr(f"(cum - n_chars) div {_BIN_TARGET}")
        .cast("bigint").alias("bin"))
    return b.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select(
        "source", "bin", "n_files", "total_chars",
        F.expr(_RDIV.format(a="1000000 * total_chars",
                            b=str(_BIN_TARGET)))
        .cast("bigint").alias("fill_ppm"),
    )


layout_compaction_bins.__doc__ = layout_compaction_bins.__doc__.format(
    target=_BIN_TARGET)


@register("stats_mannwhitney_u", oracle=f"""
WITH vf AS (
  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
         CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_b
  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1
), cum AS (
  SELECT n_a, n_b,
         CAST(SUM(n_a + n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              - (n_a + n_b) AS BIGINT) AS c_lt
  FROM vf
), agg AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n_a_tot,
         CAST(SUM(n_b) AS BIGINT) AS n_b_tot,
         CAST(SUM(n_a * (2 * c_lt + (n_a + n_b) + 1)) AS BIGINT) AS r_a_x2
  FROM cum
)
, fin AS (
  SELECT n_a_tot AS n_a, n_b_tot AS n_b,
         CAST(r_a_x2 - n_a_tot * (n_a_tot + 1) AS BIGINT) AS u_a_x2,
         CAST(2 * n_a_tot * n_b_tot AS BIGINT) AS d
  FROM agg
)
SELECT n_a, n_b, u_a_x2,
       CAST(d - u_a_x2 AS BIGINT) AS u_b_x2,
       CAST({staged_ppm("u_a_x2", "d", intdiv="//")} AS BIGINT) AS auc_ppm
FROM fin
""")
def stats_mannwhitney_u(spark, sf_dir):
    """Exact Mann-Whitney U (Wilcoxon rank-sum) comparing order value
    between finished ('F') and open ('O') orders, WITHOUT a global
    row rank: one corpus-sized grouped pass builds the per-dollar
    two-group frequency table, and the rank sum derives from its
    cumulative counts — DOUBLED average ranks (2r = 2*cum_before +
    ties + 1, integers even under ties), the stats_rank_corr trick.
    ``u_a_x2`` = 2*U_A; ``auc_ppm`` = U_A / (n_A*n_B) in ppm, which is
    exactly the ROC-AUC of price as a classifier for status — the
    quantity an ML pipeline actually wants from this test.  All
    arithmetic BIGINT-exact, with the ppm ratio staged as two x1000
    long-division steps (a naive 1e6*U multiply overflowed int64 at
    the 60M-row sf10 run; the staged form holds to ~5e7 rows per
    group).  Past ~1e9 total rows the rank-sum products outgrow int64
    too and the sums switch to the DECIMAL(38,0) shard-mergeable form
    documented in stats_rank_corr.  The only data-sized pass is the
    first groupBy; the window runs over the dollar domain."""
    orders = load_table(spark, sf_dir, "orders")
    vf = (orders.filter(F.col("o_orderstatus").isin("F", "O"))
          .groupBy(F.floor("o_totalprice").cast("bigint").alias("v"))
          .agg(F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                     .otherwise(0)).cast("bigint").alias("n_a"),
               F.sum(F.when(F.col("o_orderstatus") == "O", 1)
                     .otherwise(0)).cast("bigint").alias("n_b")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vf.select(
        "n_a", "n_b",
        (F.sum(F.col("n_a") + F.col("n_b")).over(w)
         - (F.col("n_a") + F.col("n_b"))).cast("bigint").alias("c_lt"))
    agg = cum.agg(
        F.sum("n_a").cast("bigint").alias("n_a_tot"),
        F.sum("n_b").cast("bigint").alias("n_b_tot"),
        F.sum(F.col("n_a") * (2 * F.col("c_lt")
                              + (F.col("n_a") + F.col("n_b")) + 1))
        .cast("bigint").alias("r_a_x2"))
    fin = agg.select(
        F.col("n_a_tot").alias("n_a"),
        F.col("n_b_tot").alias("n_b"),
        (F.col("r_a_x2") - F.col("n_a_tot") * (F.col("n_a_tot") + 1))
        .cast("bigint").alias("u_a_x2"),
        (2 * F.col("n_a_tot") * F.col("n_b_tot"))
        .cast("bigint").alias("d"))
    # staged_ppm: 1e6*U overflows int64 once n_a*n_b > ~4.6e12
    # (measured at the 60M-row sf10 run); the shared two-step form
    # keeps every intermediate <= 1000*d
    return fin.select(
        "n_a", "n_b", "u_a_x2",
        (F.col("d") - F.col("u_a_x2")).cast("bigint").alias("u_b_x2"),
        F.expr(staged_ppm("u_a_x2", "d")).cast("bigint").alias("auc_ppm"),
    )


def _mp4_be4(x: str) -> str:
    """DuckDB hex of a u32 big-endian."""
    return (f"lpad(to_hex((({x}) // 16777216) % 256), 2, '0') || "
            f"lpad(to_hex((({x}) // 65536) % 256), 2, '0') || "
            f"lpad(to_hex((({x}) // 256) % 256), 2, '0') || "
            f"lpad(to_hex(({x}) % 256), 2, '0')")


_M_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"
_M_U16 = lambda off: f"({_M_U8(off)} * 256 + {_M_U8(f'({off}) + 1')})"
_M_U32 = lambda off: f"({_M_U16(off)} * 65536 + {_M_U16(f'({off}) + 2')})"


def _mp4_walk_ctes() -> str:
    tops = [
        "t0 AS (SELECT doc_id, h, CAST(1 AS BIGINT) AS o FROM hx)"]
    for k in range(M._MP4_TOP_STEPS):
        tops.append(
            f"t{k + 1} AS (SELECT doc_id, h, "
            f"CASE WHEN {_M_U32('(o) + 4')} = {M._MP4_MOOV} THEN o "
            f"ELSE o + {_M_U32('o')} END AS o FROM t{k})")
    kids = [
        f"c0 AS (SELECT doc_id, h, o, o + 8 AS c "
        f"FROM t{M._MP4_TOP_STEPS})"]
    for k in range(M._MP4_CHILD_STEPS):
        kids.append(
            f"c{k + 1} AS (SELECT doc_id, h, o, "
            f"CASE WHEN {_M_U32('(c) + 4')} = {M._MP4_MVHD} THEN c "
            f"ELSE c + {_M_U32('c')} END AS c FROM c{k})")
    return ",\n".join(tops + kids)


_MP4_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         (doc_id % 4 + 1) * 600 AS tscale,
         doc_id % 100000 + 1000 AS dur,
         doc_id % 3 AS n_compat,
         doc_id % 2 = 0 AS has_free,
         doc_id % 16 AS free_len,
         doc_id % 5 < 2 AS has_udta,
         doc_id % 11 AS udta_len
  FROM documents
), hx AS (
  SELECT doc_id,
         {_mp4_be4("16 + 4 * n_compat")} || '66747970'
         || CASE doc_id % 3 WHEN 0 THEN '69736f6d'
              WHEN 1 THEN '6d703432' ELSE '61766331' END
         || '00000200' || repeat('69736f6d', n_compat)
         || CASE WHEN has_free THEN
              {_mp4_be4("free_len + 8")} || '66726565'
              || repeat('00', free_len) ELSE '' END
         || {_mp4_be4("8 + CASE WHEN has_udta THEN udta_len + 8 "
                      "ELSE 0 END + 108")} || '6d6f6f76'
         || CASE WHEN has_udta THEN
              {_mp4_be4("udta_len + 8")} || '75647461'
              || repeat('00', udta_len) ELSE '' END
         || '0000006c' || '6d766864' || '00000000'
         || '00000000' || '00000000'
         || {_mp4_be4("tscale")} || {_mp4_be4("dur")}
         || '00010000' || '0100' || repeat('00', 10)
         || '00010000' || '00000000' || '00000000'
         || '00000000' || '00010000' || '00000000'
         || '00000000' || '00000000' || '40000000'
         || repeat('00', 24) || '00000002'
         || {_mp4_be4("doc_id % 9 + 8")} || '6d646174'
         || repeat('00', doc_id % 9) AS h
  FROM src
),
{_mp4_walk_ctes()}
SELECT doc_id,
       len(h) // 2 >= 12 AND {_M_U32('5')} = {M._MP4_FTYP}
         AND {_M_U32('(o) + 4')} = {M._MP4_MOOV}
         AND {_M_U32('(c) + 4')} = {M._MP4_MVHD} AS is_mp4,
       CAST({_M_U32('9')} AS BIGINT) AS major_brand_u32,
       CAST({_M_U32('(c) + 20')} AS BIGINT) AS timescale,
       CAST({_M_U32('(c) + 24')} AS BIGINT) AS duration,
       CAST({_rdiv_sql(f"1000 * {_M_U32('(c) + 24')}",
                       _M_U32('(c) + 20'))} AS BIGINT) AS duration_ms
FROM c{M._MP4_CHILD_STEPS}
"""


@register("mm_mp4_box_parse", oracle=_MP4_ORACLE)
def mm_mp4_box_parse(spark, sf_dir):
    """MP4 (ISO-BMFF) movie-header round-trip
    (operators/multimodal.py synthesize_mp4 / parse_mp4_metadata):
    minimal ftyp/free/moov(udta,mvhd)/mdat streams with
    DATA-DEPENDENT box sizes at BOTH nesting levels, decoded by a
    TWO-LEVEL box walk — the container-format step up from the JPEG
    segment chain (one level, u16 sizes) to the video-file layout
    (nested, u32 sizes) a multimodal training pipeline meets first
    when indexing raw video blobs.  Box types compare as u32 numbers
    so the hex-case difference between engines can't bite.  Map-only;
    the oracle builds and walks the identical stream."""
    # repartition BEFORE the per-clip synth+walk (the wave-36 lesson,
    # applied back to the parse-only query): the sf fixture is one
    # parquet split -> one input task, serializing the CPU-bound
    # two-level walk; a real video corpus gets this parallelism from
    # its file splits
    docs = spread_input(load_table(spark, sf_dir, "documents").select("doc_id"))
    built = M.synthesize_mp4(docs, "doc_id")
    return M.parse_mp4_metadata(built, "doc_id")
