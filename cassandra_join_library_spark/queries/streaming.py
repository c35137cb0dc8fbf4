"""Streaming queries.

``stream_tumbling`` runs a REAL Structured Streaming job
(Trigger.AvailableNow → memory sink) and returns the materialized
result; without a watermark in complete mode every window is emitted,
so the result equals the batch computation and the DuckDB oracle from
``events_tumbling`` applies verbatim.  ``stream_dedup`` exercises the
stateful dedup operator → rows-only check (stateful streaming has no
SQL twin).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import dsum
from ..registry import register
from ..streaming import windows as W


@register("stream_tumbling", oracle="""
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""")
def stream_tumbling(spark, sf_dir):
    """Tumbling-window aggregation executed through the streaming
    engine (AvailableNow), result identical to the batch twin."""
    stream = W.read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )
    name, _ = W.run_to_memory(agg, output_mode="complete")
    return spark.table(name)


@register("stream_dedup")  # stateful streaming -> rows-only check
def stream_dedup(spark, sf_dir):
    """Streaming exact dedup on (user_id, event_type) with watermarked
    state eviction."""
    stream = W.read_events_stream(spark, sf_dir)
    deduped = W.dedup_stream(stream, ["user_id", "event_type"],
                             watermark="2 hours", within_watermark=True)
    out = deduped.select("event_id", "user_id", "event_type")
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)


@register("stream_stream_join", oracle="""
SELECT l.user_id,
       l.event_id AS l_event, r.event_id AS r_event,
       l.event_type AS l_type, r.event_type AS r_type,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS l_epoch,
       CAST(floor(epoch(r.ts)) AS BIGINT) AS r_epoch
FROM events l JOIN events r
  ON l.user_id = r.user_id AND l.event_id <> r.event_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
""")
def stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join run through the real
    streaming engine (AvailableNow); time-bounded join state means the
    result over bounded input equals the batch join, so the DuckDB
    oracle applies exactly."""
    l = W.read_events_stream(spark, sf_dir)
    r = W.read_events_stream(spark, sf_dir)
    joined = W.stream_stream_interval_join(l, r, watermark="2 hours",
                                           max_lag="5 minutes")
    out = joined.select(
        F.col("l_user").alias("user_id"),
        F.col("l_event").alias("l_event"), F.col("r_event").alias("r_event"),
        F.col("l_type").alias("l_type"), F.col("r_type").alias("r_type"),
        F.unix_timestamp("l_ts").cast("bigint").alias("l_epoch"),
        F.unix_timestamp("r_ts").cast("bigint").alias("r_epoch"),
    )
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)


@register("stream_stateful_stats")  # custom state transition -> rows-only
def stream_stateful_stats(spark, sf_dir):
    """Custom applyInPandasWithState accumulator (per-user running
    count/sum/max) through the streaming engine; equality with the
    batch aggregate is asserted in tests/test_streaming.py."""
    from ..streaming.stateful import running_user_stats

    stream = W.read_events_stream(spark, sf_dir)
    name, _ = W.run_to_memory(running_user_stats(stream), output_mode="update")
    return spark.table(name)


@register("stream_sessionize_custom")  # timeout-emitted -> rows-only
def stream_sessionize_custom(spark, sf_dir):
    """Custom arbitrary-state sessionizer: applyInPandasWithState with
    ``GroupStateTimeout.EventTimeTimeout`` — sessions emit when the
    WATERMARK passes last-event + gap (state evicted), the bounded-
    state pattern the built-in ``session_window`` hides.  Sessions
    still open at end-of-replay are unemitted by design → rows-only
    check; exact parity with the batch ``session_window`` for every
    CLOSED session is asserted in tests/test_streaming_multibatch.py."""
    from ..streaming.stateful import sessionize_with_timeout

    stream = W.read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    out = sessionize_with_timeout(stream, gap_seconds=600)
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)


@register("stream_stateful_stats_final", oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
""")
def stream_stateful_stats_final(spark, sf_dir):
    """POST-ALL-BATCHES state of the custom applyInPandasWithState
    accumulator: run ``running_user_stats`` through the streaming
    engine, then keep each user's LAST snapshot (n_events is strictly
    increasing per emission, so max-n selects it deterministically).
    The accumulator sums exact microunits (DECIMAL(18,6) convention),
    so the final state equals the batch aggregate bit-for-bit and the
    SQL twin is a full value oracle — the live per-micro-batch
    emission stream stays rows-only (``stream_stateful_stats``)."""
    from pyspark.sql.window import Window

    from ..streaming.stateful import running_user_stats

    stream = W.read_events_stream(spark, sf_dir)
    name, _ = W.run_to_memory(running_user_stats(stream), output_mode="update")
    snap = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register("stream_sessionize_final", oracle="""
WITH x AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 600 SECOND
              THEN 1 ELSE 0 END AS brk
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_last_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM g
GROUP BY user_id, sid
""")
def stream_sessionize_final(spark, sf_dir):
    """COMPLETE session set from the custom stateful sessionizer: the
    replay is followed by a per-user end-of-stream SENTINEL micro-batch
    that flushes every still-open session (the piece the rows-only
    ``stream_sessionize_custom`` can't emit), so the output is exactly
    the batch gaps-and-islands sessionization and carries a full value
    oracle.  Session split on gap > 600 s (strict), sums in exact
    microunits."""
    from ..streaming.stateful import sessionize_with_timeout

    stream = W.stage_events_with_sentinels(spark, sf_dir).withWatermark(
        "ts", "10 minutes")
    out = sessionize_with_timeout(stream, gap_seconds=600,
                                  flush_on_sentinel=True)
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)


@register("stream_session", oracle="""
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
""")
def stream_session(spark, sf_dir):
    """Native streaming session windows (``session_window`` merges
    per-user state as events arrive) run to completion through the
    streaming engine — same gaps-and-islands oracle as the batch twin
    ``events_session``."""
    stream = W.read_events_stream(spark, sf_dir)
    out = W.session_counts(stream, gap="10 minutes", watermark="2 hours")
    name, _ = W.run_to_memory(out, output_mode="complete")
    return spark.table(name)


@register("stream_sliding", oracle="""
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
""")
def stream_sliding(spark, sf_dir):
    """Sliding-window aggregation through the streaming engine —
    overlap factor length/slide = 2; oracle shared with the batch twin
    ``events_sliding``."""
    stream = W.read_events_stream(spark, sf_dir)
    out = W.sliding_counts(stream, window="1 hour", slide="30 minutes",
                           watermark="2 hours")
    name, _ = W.run_to_memory(out, output_mode="complete")
    return spark.table(name)


@register("stream_static_enrich", oracle="""
SELECT e.event_id, e.event_type, e.value,
       c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type IN ('purchase', 'signup')
""")
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the streaming fact side joins a
    STATIC broadcast dimension — no state, no watermark needed (the
    dimension is finite), the canonical enrich-on-ingest topology; at
    100 TB/day the dimension broadcast is refreshed per microbatch by
    the source, never shuffles the stream.  Append mode; equals the
    batch twin (events_enrich_join), same oracle."""
    from ..sources.catalog import load_table

    stream = W.read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    out = (
        stream.filter(F.col("event_type").isin("purchase", "signup"))
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "event_type", "value", "c_name", "c_mktsegment")
    )
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)

