"""Round-7 fifth wave (banked for round 8): exact dyadic EWMA,
interpolation as-of, rendezvous sharding, Merkle-style bucket
checksums, an open-interval concurrency curve, and seasonal-baseline
outliers.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles,
repo parity conventions (integer-first, single-division doubles,
aliased columns, total orders under LIMIT).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.asof import asof_interpolate
from ..operators.layout import rendezvous_shards
from ..operators.profiling import bucket_checksums
from ..operators.timeseries import ewma_dyadic
from ..registry import register
from ..sources.catalog import load_events, load_table


_VMICRO = "CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


@register("events_ewma_exact", oracle=f"""
WITH p AS (
  SELECT user_id, ts, event_id, {_VMICRO} AS v_micro
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
), w AS (
  SELECT user_id, ts, event_id, v_micro,
         list(v_micro) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
  FROM p
), h AS (
  SELECT user_id, ts, event_id, v_micro,
         list_reduce(list_reverse(vals),
                     (acc, x) -> acc * 2 + x) AS num,
         (CAST(1 AS BIGINT) << len(vals)) - 1 AS den
  FROM w
)
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       event_id, v_micro,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((abs(num) // den)
               + (CASE WHEN 2 * (abs(num) % den) >= den
                  THEN 1 ELSE 0 END)) AS BIGINT) AS ewma_micro
FROM h
""")
def events_ewma_exact(spark, sf_dir):
    """Exact EWMA over each user's purchase values
    (operators/timeseries.py ewma_dyadic): dyadic weights 2^7..2^0
    over the trailing 8 observations, one rounded integer division —
    bit-identical under any partitioning, unlike a float alpha
    recursion.  One key-partitioned window, state bounded at 8."""
    ev = load_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("value").isNotNull())
    p = ev.select("user_id", "ts", "event_id",
                  F.expr(_VMICRO).alias("v_micro"))
    out = ewma_dyadic(p, "user_id", "ts", "event_id", "v_micro", k=8)
    return out.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        "event_id", "v_micro", "ewma_micro")


@register("asof_interpolate_value", oracle=f"""
WITH p AS (
  SELECT user_id, ts, MAX(event_id) AS eid,
         arg_max({_VMICRO}, event_id) AS v
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
), l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), b AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.ts AS bts, r.v AS bv,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts DESC) AS rn
    FROM l JOIN p r ON r.user_id = l.user_id AND r.ts <= l.ts
  ) WHERE rn = 1
), f AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.ts AS fts, r.v AS fv,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts ASC) AS rn
    FROM l JOIN p r ON r.user_id = l.user_id AND r.ts >= l.ts
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       bv AS v_before, fv AS v_after,
       CASE WHEN bv IS NOT NULL AND fv IS NOT NULL
                 AND epoch_us(fts) > epoch_us(bts)
            THEN CAST(bv AS DOUBLE)
                 + CAST(fv - bv AS DOUBLE)
                   * CAST(epoch_us(l.ts) - epoch_us(bts) AS DOUBLE)
                   / CAST(epoch_us(fts) - epoch_us(bts) AS DOUBLE)
            WHEN bv IS NOT NULL THEN CAST(bv AS DOUBLE)
            WHEN fv IS NOT NULL THEN CAST(fv AS DOUBLE)
            END AS v_interp
FROM l
LEFT JOIN b ON b.lid = l.event_id
LEFT JOIN f ON f.lid = l.event_id
""")
def asof_interpolate_value(spark, sf_dir):
    """Linear-interpolation as-of (operators/asof.py
    asof_interpolate): every click gets the purchase value
    interpolated between the same user's surrounding purchases —
    the 'lerp join' of time-series stores, composed from the backward
    and forward one-window passes with zero extra fact-table joins.
    The lerp is three IEEE ops over exact integers (deterministic in
    both engines); edges fall back to the single neighbor."""
    ev = load_events(spark, sf_dir)
    l = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    r = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", "ts", "event_id",
             F.expr(_VMICRO).alias("v_micro"))
    out = asof_interpolate(l, r, "user_id", right_id="event_id",
                           value_micro="v_micro")
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        "v_before", "v_after", "v_interp")


@register("corpus_rendezvous_shards", oracle="""
WITH t AS (
  SELECT doc_id,
         list_transform(range(0, 17), s ->
           (((doc_id * 31 + s) % 2147483647)
            * 2654435761) % 2147483647) AS t1
  FROM documents
), w AS (
  SELECT doc_id,
         list_transform(range(0, 16), s ->
           {'w': (t1[s + 1] * t1[s + 1]) % 2147483647,
            's': s}) AS ws,
         (t1[17] * t1[17]) % 2147483647 AS nw
  FROM t
), a AS (
  SELECT doc_id,
         list_reduce(ws, (acc, x) ->
           CASE WHEN x.w > acc.w THEN x ELSE acc END).s AS shard,
         nw > list_max(list_transform(ws, x -> x.w)) AS moves
  FROM w
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_to_new,
       CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS move_rate
FROM a GROUP BY 1
""")
def corpus_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) sharding report
    (operators/layout.py rendezvous_shards): deterministic per-(doc,
    shard) integer weights, argmax placement over 16 shards, and —
    the property that matters — how few rows a 17th shard would
    steal (~1/17, vs near-total reshuffle under modulo sharding).
    Map-only argmax + one shard-count-sized aggregate."""
    return rendezvous_shards(
        load_table(spark, sf_dir, "documents"), "doc_id", n_shards=16)


@register("profile_bucket_checksums", oracle="""
SELECT CAST(o_orderkey // 1024 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(('0x' || substr(md5(concat_ws('|',
              o_orderkey::VARCHAR, o_custkey::VARCHAR,
              o_orderstatus, o_orderpriority)), 1, 10))::BIGINT)
            AS BIGINT) AS checksum
FROM orders
GROUP BY 1
""")
def profile_bucket_checksums(spark, sf_dir):
    """Merkle-style anti-entropy digests over orders
    (operators/profiling.py bucket_checksums): per 1024-key bucket, an
    order-independent 40-bit-per-row MD5 sum — what two replicas
    exchange to locate diverging ranges without shipping rows (the
    repair primitive of the reference's native store, re-expressed
    relationally; cassandra_joinlib relies on the server's own
    anti-entropy).  Map-only digest + bucket-keyed aggregate."""
    return bucket_checksums(
        load_table(spark, sf_dir, "orders"), "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        bucket_size=1024)


@register("events_open_order_concurrency", oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT CAST(o_orderdate AS DATE) + 30, -1 FROM orders
), g AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS delta FROM d GROUP BY 1
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num,
       delta,
       CAST(SUM(delta) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_orders
FROM g
""")
def events_open_order_concurrency(spark, sf_dir):
    """Open-interval concurrency curve (sweep line): orders treated as
    [orderdate, orderdate+30d) intervals; +1/-1 deltas aggregated per
    day, then a running sum gives the number of open orders on each
    boundary day.  The window is over the DAY-AGGREGATED series —
    calendar-cardinality rows (a few thousand for any horizon), never
    the fact table, which is why the single-partition running sum is
    safe at 100 TB (the per-day aggregate before it is the
    corpus-sized, fully parallel step)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("day"),
                 F.lit(1).alias("delta")).unionByName(
        o.select(F.date_add(F.to_date("o_orderdate"), 30).alias("day"),
                 F.lit(-1).alias("delta")))
    g = d.groupBy("day").agg(F.sum("delta").cast("bigint").alias("delta"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return g.select(
        F.datediff("day", F.lit("1970-01-01")).cast("bigint")
        .alias("day_num"),
        "delta",
        F.sum("delta").over(w).cast("bigint").alias("open_orders"),
    )


@register("events_seasonal_outliers", oracle=f"""
WITH p AS (
  SELECT event_id, hour(ts) AS hr, {_VMICRO} AS v_micro
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
    AND value IS NOT NULL AND event_id IS NOT NULL
), base AS (
  SELECT hr, CAST(SUM(v_micro) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM p GROUP BY 1
), bl AS (
  SELECT hr, n,
         CAST((s // n) + (CASE WHEN 2 * (s % n) >= n THEN 1 ELSE 0 END)
              AS BIGINT) AS baseline_micro
  FROM base WHERE s >= 0
)
SELECT p.event_id, CAST(p.hr AS BIGINT) AS hr, p.v_micro,
       bl.baseline_micro,
       abs(p.v_micro - bl.baseline_micro) AS dev_micro
FROM p JOIN bl ON bl.hr = p.hr
ORDER BY dev_micro DESC, p.event_id ASC
LIMIT 20
""")
def events_seasonal_outliers(spark, sf_dir):
    """Seasonal-baseline outliers: hour-of-day purchase baselines
    (rounded integer mean in micro-units, exact under any
    partitioning), then the 20 events deviating most from their
    hour's baseline — the cheap seasonality-aware screen before
    z-scores.  One 24-row aggregate broadcast back; total order under
    the LIMIT.  The s >= 0 guard pins the rounded division to the
    non-negative contract it is exact for."""
    ev = load_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        & F.col("value").isNotNull() & F.col("event_id").isNotNull())
    p = ev.select("event_id", F.hour("ts").alias("hr"),
                  F.expr(_VMICRO).alias("v_micro"))
    base = p.groupBy("hr").agg(
        F.sum("v_micro").alias("s"), F.count(F.lit(1)).alias("n"))
    bl = base.filter(F.col("s") >= 0).select(
        "hr", F.expr(
            "CAST((s div n) + (CASE WHEN 2 * (s % n) >= n THEN 1 "
            "ELSE 0 END) AS BIGINT)").alias("baseline_micro"))
    return (
        p.join(F.broadcast(bl), "hr")
        .select("event_id", F.col("hr").cast("bigint").alias("hr"),
                "v_micro", "baseline_micro",
                F.abs(F.col("v_micro") - F.col("baseline_micro"))
                .alias("dev_micro"))
        .orderBy(F.desc("dev_micro"), F.asc("event_id"))
        .limit(20)
    )
