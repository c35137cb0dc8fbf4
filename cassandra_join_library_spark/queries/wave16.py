"""Round-9 third wave: exact rank correlation (Spearman + Kendall)
from a bounded contingency table, gaps-and-islands activity streaks,
exact rolling median, GIF header parsing, and PCM zero-crossing rate.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators.stats import _RDIV
from ..registry import register
from ..sources.catalog import load_events, load_table
from .wave7 import _PCM_N, _WAV_PCM_BASE
from .wave9 import _rdiv_sql
from .wave11 import _DISC_BP, _QTY_CENTS


@register("stats_rank_corr", oracle=f"""
WITH m AS (
  SELECT {_QTY_CENTS} AS x, {_DISC_BP} AS y FROM lineitem
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f FROM m GROUP BY 1, 2
), xm AS (
  SELECT x, CAST(SUM(f) AS BIGINT) AS fx,
         2 * COALESCE(SUM(SUM(f)) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) + SUM(f) + 1 AS rx2
  FROM cells GROUP BY x
), ym AS (
  SELECT y, CAST(SUM(f) AS BIGINT) AS fy,
         2 * COALESCE(SUM(SUM(f)) OVER (
           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) + SUM(f) + 1 AS fy2
  FROM cells GROUP BY y
), tot AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n FROM cells
), dx AS (
  SELECT x, fx, CAST(rx2 - (SELECT n + 1 FROM tot) AS BIGINT) AS d
  FROM xm
), dy AS (
  SELECT y, fy, CAST(fy2 - (SELECT n + 1 FROM tot) AS BIGINT) AS d
  FROM ym
), sp AS (
  SELECT
    SUM(CAST(c.f AS DECIMAL(10,0))
        * CAST(CAST(dx.d AS DECIMAL(14,0))
               * CAST(dy.d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS sxy
  FROM cells c JOIN dx ON dx.x = c.x JOIN dy ON dy.y = c.y
), sxx_t AS (
  SELECT SUM(CAST(fx AS DECIMAL(10,0))
             * CAST(CAST(d AS DECIMAL(14,0))
                    * CAST(d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS sxx,
         SUM(CAST(fx AS DECIMAL(19,0))
             * CAST(fx - 1 AS DECIMAL(19,0))) AS tiesx
  FROM dx
), syy_t AS (
  SELECT SUM(CAST(fy AS DECIMAL(10,0))
             * CAST(CAST(d AS DECIMAL(14,0))
                    * CAST(d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS syy,
         SUM(CAST(fy AS DECIMAL(19,0))
             * CAST(fy - 1 AS DECIMAL(19,0))) AS tiesy
  FROM dy
), cd AS (
  SELECT
    SUM(CASE WHEN b.y > a.y
        THEN CAST(a.f AS DECIMAL(19,0)) * CAST(b.f AS DECIMAL(19,0))
        ELSE CAST(0 AS DECIMAL(19,0)) END) AS c_pairs,
    SUM(CASE WHEN b.y < a.y
        THEN CAST(a.f AS DECIMAL(19,0)) * CAST(b.f AS DECIMAL(19,0))
        ELSE CAST(0 AS DECIMAL(19,0)) END) AS d_pairs
  FROM cells a JOIN cells b ON b.x > a.x
)
SELECT n,
       CAST((SELECT COUNT(*) FROM dx) AS BIGINT) AS n_x_values,
       CAST((SELECT COUNT(*) FROM dy) AS BIGINT) AS n_y_values,
       CAST(CAST(sxy AS DOUBLE)
            / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
            AS DOUBLE) AS rho_spearman,
       CAST(2.0 * CAST(c_pairs - d_pairs AS DOUBLE)
            / sqrt(CAST(CAST(n AS DECIMAL(19,0))
                        * CAST(n - 1 AS DECIMAL(19,0))
                        - tiesx AS DOUBLE)
                   * CAST(CAST(n AS DECIMAL(19,0))
                          * CAST(n - 1 AS DECIMAL(19,0))
                          - tiesy AS DOUBLE))
            AS DOUBLE) AS tau_b
FROM tot, sp, sxx_t, syy_t, cd
""")
def stats_rank_corr(spark, sf_dir):
    """Exact Spearman rho AND Kendall tau-b over bounded-cardinality
    measures (quantity cents x discount basis points) WITHOUT the
    naive global rank window: one corpus-sized groupBy builds the
    joint contingency table (|X|x|Y| <= ~550 cells), and every rank
    statistic derives from cell/marginal frequencies — doubled
    average ranks (2r = 2*cum_before + f + 1, integers even under
    ties) centered at their exact mean n+1, so the rank sums vanish
    and rho = Sxy / sqrt(Sxx*Syy) over DECIMAL(38,0) sufficient
    statistics (exact to ~1e10 rows; beyond that the decimal sums
    merge across shards).  Kendall's concordant/discordant pairs come
    from the cell-table self-join (b.x > a.x — bounded |cells|^2, not
    corpus^2) with tie corrections from the marginals.  At 100 TB
    the only data-sized pass is the first groupBy; a window-rank
    implementation would globally sort the fact table twice.
    Continuous measures would first quantize (the standard
    tie-corrected treatment)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(F.expr(_QTY_CENTS).alias("x"),
                  F.expr(_DISC_BP).alias("y"))
    cells = (m.groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("bigint").alias("f")))
    cells = cells.persist()

    def marginal(key):
        w = (Window.orderBy(key)
             .rowsBetween(Window.unboundedPreceding, -1))
        return (
            cells.groupBy(key)
            .agg(F.sum("f").cast("bigint").alias("fk"))
            .select(key, "fk",
                    (2 * F.coalesce(F.sum("fk").over(w), F.lit(0))
                     + F.col("fk") + 1).cast("bigint").alias("r2"))
        )

    xm, ym = marginal("x"), marginal("y")
    tot = cells.agg(F.sum("f").cast("bigint").alias("n"))
    dxm = (xm.crossJoin(F.broadcast(tot))
           .select("x", "fk", (F.col("r2") - (F.col("n") + 1))
                   .cast("bigint").alias("d")))
    dym = (ym.crossJoin(F.broadcast(tot))
           .select("y", "fk", (F.col("r2") - (F.col("n") + 1))
                   .cast("bigint").alias("d")))

    d14 = lambda c: F.col(c).cast("decimal(14,0)")
    sp = (
        cells.join(F.broadcast(dxm.select("x", F.col("d").alias("dx"))),
                   "x")
        .join(F.broadcast(dym.select("y", F.col("d").alias("dy"))), "y")
        .agg(F.sum(F.col("f").cast("decimal(10,0)")
                   * (d14("dx") * d14("dy")).cast("decimal(28,0)"))
             .alias("sxy"))
    )

    def sq_ties(dm):
        return dm.agg(
            F.sum(F.col("fk").cast("decimal(10,0)")
                  * (d14("d") * d14("d")).cast("decimal(28,0)"))
            .alias("sqq"),
            F.sum(F.col("fk").cast("decimal(19,0)")
                  * (F.col("fk") - 1).cast("decimal(19,0)"))
            .alias("ties"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
        )

    sxx = sq_ties(dxm).select(F.col("sqq").alias("sxx"),
                              F.col("ties").alias("tiesx"),
                              F.col("n_values").alias("n_x_values"))
    syy = sq_ties(dym).select(F.col("sqq").alias("syy"),
                              F.col("ties").alias("tiesy"),
                              F.col("n_values").alias("n_y_values"))
    a = cells.select(F.col("x").alias("ax"), F.col("y").alias("ay"),
                     F.col("f").alias("af"))
    b = cells.select(F.col("x").alias("bx"), F.col("y").alias("by"),
                     F.col("f").alias("bf"))
    prod = (F.col("af").cast("decimal(19,0)")
            * F.col("bf").cast("decimal(19,0)"))
    zero = F.lit(0).cast("decimal(19,0)")
    cd = (
        a.join(b, F.col("bx") > F.col("ax"))
        .agg(
            F.sum(F.when(F.col("by") > F.col("ay"), prod).otherwise(zero))
            .alias("c_pairs"),
            F.sum(F.when(F.col("by") < F.col("ay"), prod).otherwise(zero))
            .alias("d_pairs"),
        )
    )
    n_dec = F.col("n").cast("decimal(19,0)")
    n1_dec = (F.col("n") - 1).cast("decimal(19,0)")
    out = (
        tot.crossJoin(F.broadcast(sp)).crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(syy)).crossJoin(F.broadcast(cd))
        .select(
            "n", "n_x_values", "n_y_values",
            (F.col("sxy").cast("double")
             / (F.sqrt(F.col("sxx").cast("double"))
                * F.sqrt(F.col("syy").cast("double"))))
            .cast("double").alias("rho_spearman"),
            (F.lit(2.0) * (F.col("c_pairs") - F.col("d_pairs"))
             .cast("double")
             / F.sqrt((n_dec * n1_dec - F.col("tiesx")).cast("double")
                      * (n_dec * n1_dec - F.col("tiesy")).cast("double")))
            .cast("double").alias("tau_b"),
        )
    )
    return out


@register("events_user_streaks", oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         (d - DATE '1970-01-01')
         - row_number() OVER (PARTITION BY user_id ORDER BY d)
           AS island
  FROM days
), runs AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY user_id
""")
def events_user_streaks(spark, sf_dir):
    """Gaps-and-islands consecutive-day activity streaks: distinct
    active days per user, island key = epoch_day - row_number (equal
    within a consecutive run, the classic trick — no self-join, no
    recursive expansion), then run lengths and the per-user longest
    streak / active-day / streak counts.  Windows and aggregates all
    partition by user_id, so the operator shuffles each user's
    day-set once regardless of corpus size."""
    days = (load_events(spark, sf_dir)
            .select("user_id", F.col("ts").cast("date").alias("d"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
         - F.row_number().over(w)).alias("island"),
    )
    runs = (isl.groupBy("user_id", "island")
            .agg(F.count(F.lit(1)).cast("bigint").alias("run_len")))
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("bigint").alias("longest_streak"),
        F.sum("run_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@register("events_rolling_median_daily", oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), win AS (
  SELECT d, rev,
         median(rev) OVER (
           ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
         ) AS med7,
         row_number() OVER (ORDER BY d) AS rn
  FROM daily
)
SELECT CAST(epoch(d) AS BIGINT) AS day_epoch, rev,
       CAST(med7 AS DOUBLE) AS med7
FROM win WHERE rn >= 7
""")
def events_rolling_median_daily(spark, sf_dir):
    """Exact 7-day rolling MEDIAN of daily purchase value — the
    robust-trend smoother a mean window can't provide.  Daily totals
    first (decimal-exact), then an ORDER-BY-day frame of 7 rows; rows
    before the 7th are dropped so every frame has ODD size and the
    median is a picked element — no midpoint interpolation, hence
    bit-identical across engines.  The window runs over the per-DAY
    aggregate (calendar-bounded, ~2 years of rows), never the raw
    event stream; at 100 TB the event-sized work is the one
    map-side-combined groupBy."""
    daily = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("double").alias("rev"))
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wr = Window.orderBy("d")
    return (
        daily.select(
            "d", "rev",
            F.expr("percentile(rev, 0.5)").over(w7).alias("med7"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") >= 7)
        .select(F.unix_timestamp("d").cast("bigint").alias("day_epoch"),
                "rev", F.col("med7").cast("double").alias("med7"))
    )


@register("mm_gif_parse", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 800 + 1 AS width,
         doc_id % 600 + 1 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS gflag,
         doc_id % 8 AS gexp
  FROM documents
), hx AS (
  SELECT doc_id,
         '474946'
         || CASE WHEN doc_id % 2 = 0 THEN '383961' ELSE '383761' END
         || lpad(to_hex(width % 256), 2, '0')
           || lpad(to_hex((width // 256) % 256), 2, '0')
         || lpad(to_hex(height % 256), 2, '0')
           || lpad(to_hex((height // 256) % 256), 2, '0')
         || lpad(to_hex(gflag * 128 + 112 + gexp), 2, '0')
         || '00' || '00' AS h
  FROM src
)
SELECT doc_id,
       len(h) // 2 >= 13 AND substr(h, 1, 6) = '474946'
         AND substr(h, 7, 6) IN ('383761', '383961') AS is_gif,
       CASE substr(h, 7, 6) WHEN '383961' THEN '89a' ELSE '87a' END
         AS gif_version,
       CAST(('0x' || substr(h, 13, 2))::BIGINT
            + ('0x' || substr(h, 15, 2))::BIGINT * 256 AS BIGINT)
         AS gif_width,
       CAST(('0x' || substr(h, 17, 2))::BIGINT
            + ('0x' || substr(h, 19, 2))::BIGINT * 256 AS BIGINT)
         AS gif_height,
       CAST(('0x' || substr(h, 21, 2))::BIGINT // 128 AS BIGINT)
         AS has_gct,
       CAST(2 ** ((('0x' || substr(h, 21, 2))::BIGINT % 8) + 1)
            AS BIGINT) AS gct_colors
FROM hx
""")
def mm_gif_parse(spark, sf_dir):
    """GIF87a/89a header round-trip (operators/multimodal.py
    synthesize_gif / parse_gif_metadata): spec-conformant 13-byte
    signatures + logical screen descriptors built per document, then
    decoded back — u16-LE dimensions plus the BIT-PACKED flags byte
    (GCT flag = byte div 128, GCT size = 2^((byte mod 8)+1)), the
    first bit-field parse in the multimodal suite.  Pure codegen,
    map-only; the oracle builds and parses the identical hex image."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_gif(docs, "doc_id")
    return M.parse_gif_metadata(built, "doc_id")


@register("mm_pcm_zero_crossings", oracle=_WAV_PCM_BASE + f"""
SELECT doc_id,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(len(list_filter(range(1, CAST(n_samples AS INT)),
                            i -> sm[i] * sm[i + 1] < 0)) AS BIGINT)
         AS zero_crossings,
       CAST(len(list_filter(sm, v -> v = 0)) AS BIGINT)
         AS n_zero_samples,
       CAST({_rdiv_sql(
           "1000000 * len(list_filter(range(1, CAST(n_samples AS INT)), "
           "i -> sm[i] * sm[i + 1] < 0))",
           "n_samples - 1")} AS BIGINT) AS zcr_ppm
FROM s
""")
def mm_pcm_zero_crossings(spark, sf_dir):
    """Zero-crossing rate over the PCM16 WAV fixture
    (operators/multimodal.py pcm_zero_crossings): adjacent-sample
    sign flips + exact-zero counts decoded straight from the bytes —
    the classic O(1)-state voiced/unvoiced front-end of audio
    curation.  Array-first int16 decode (shared with
    mm_wav_pcm_stats), pair scan as a filter over positions, rate in
    rounded ppm so everything stays integer-exact.  Map-only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_zero_crossings(built, "doc_id")
