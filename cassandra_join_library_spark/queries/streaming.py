"""Structured Streaming queries.

Each runs a real streaming job (``Trigger.AvailableNow`` into a memory
sink, or ``foreachBatch``) and returns the materialized result.
Without a watermark in complete mode every window is emitted, so the
result equals the batch computation and the batch twin's oracle
applies verbatim.  Stateful operators whose emission order depends on
micro-batch arrival are rows-only (``registry.ROWS_ONLY`` names the
oracled query that supersedes each).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketch import (
    cms_counter_table, cms_counters_sql, hll_register_table, hll_registers_sql,
    hll_rollup,
)
from ..registry import register
from ..sources.catalog import load_table
from ..streaming import windows as W
from ._shared import (
    _CDC_CUTOFF, _CDC_MERGE_ORACLE, _cdc_target_and_changes, _NEW_BATCH_UNSEEN,
    _SESSIONS_10M, _SLIDING_30M, _TUMBLING_1H,
)


@register("stream_incremental_dedup", oracle=_NEW_BATCH_UNSEEN)
def stream_incremental_dedup(spark, sf_dir):
    """Streaming incremental dedup: the incoming batch (sources
    src10+) arrives as a STREAM and is anti-joined against the static
    corpus's digest set (src0-src9) — the continuous-ingest twin of
    ``dedup_incremental``.  A stream-static left-anti join on a
    fixed-width digest is STATELESS in Structured Streaming (the
    static side is re-broadcast per micro-batch, no state store), so
    it runs in append mode over an unbounded crawl with bounded
    memory; over bounded input the result equals the batch twin, so
    the same DuckDB oracle applies verbatim."""
    from ..operators.dedup import incremental_dedup
    from ..streaming import windows as W

    stream = W.read_documents_stream(spark, sf_dir)
    batch_no = F.substring("source", 4, 10).cast("bigint")
    new_stream = stream.filter(batch_no >= 10)
    corpus = load_table(spark, sf_dir, "documents").filter(batch_no < 10)
    deduped = incremental_dedup(new_stream, corpus, ["text"])
    out = deduped.select("doc_id", "source")
    name, _ = W.run_to_memory(out, output_mode="append")
    return spark.table(name)


@register("stream_upsert_foreachbatch", oracle=_CDC_MERGE_ORACLE)
def stream_upsert_foreachbatch(spark, sf_dir):
    """The streaming twin: the changelog arrives as a STREAM and each
    micro-batch is merged into the held snapshot via ``foreachBatch``
    — the standard Structured-Streaming upsert-sink pattern (the sink
    a Delta/Iceberg MERGE would be in production).  Because
    ``merge_upsert`` is seq-aware, batch-wise application composes to
    the same final snapshot as one global merge regardless of batch
    boundaries, so the batch oracle applies verbatim."""
    from ..operators import cdc as CD
    from ..streaming import windows as W

    target, _ = _cdc_target_and_changes(spark, sf_dir)
    cut = F.to_timestamp(F.lit(_CDC_CUTOFF))
    stream = W.read_events_stream(spark, sf_dir).filter(F.col("ts") >= cut)
    changes = stream.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
    )

    held = {"snap": target.localCheckpoint(eager=True)}

    def apply_batch(bdf, _bid):
        merged = CD.merge_upsert(held["snap"], bdf, ["user_id"],
                                 ["ts_us", "event_id"])
        # materialize: cut lineage so N batches don't stack N joins
        held["snap"] = merged.localCheckpoint(eager=True)

    import tempfile

    q = (
        changes.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_cdc_"))
        .start()
    )
    q.awaitTermination()
    return held["snap"]


@register("stream_tumbling", oracle=_TUMBLING_1H)
def stream_tumbling(spark, sf_dir):
    """Tumbling-window aggregation executed through the streaming
    engine (AvailableNow), result identical to the batch twin."""
    stream = W.read_events_stream(spark, sf_dir)
    agg = W.event_totals(
        stream, [F.window("ts", "1 hour").alias("w"), "event_type"],
        "window_start")
    name, _ = W.run_to_memory(agg, output_mode="complete")
    return spark.table(name)


@register("stream_dedup")  # stateful streaming -> rows-only check
def stream_dedup(spark, sf_dir):
    """Streaming exact dedup on (user_id, event_type) with watermarked
    state eviction."""
    stream = W.read_events_stream(spark, sf_dir)
    deduped = W.dedup_stream(stream, ["user_id", "event_type"])
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
    joined = W.stream_stream_interval_join(l, r)
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


@register("stream_session", oracle=_SESSIONS_10M)
def stream_session(spark, sf_dir):
    """Native streaming session windows (``session_window`` merges
    per-user state as events arrive) run to completion through the
    streaming engine — same gaps-and-islands oracle as the batch twin
    ``events_session``."""
    stream = W.read_events_stream(spark, sf_dir)
    out = W.session_counts(stream)
    name, _ = W.run_to_memory(out, output_mode="complete")
    return spark.table(name)


@register("stream_sliding", oracle=_SLIDING_30M)
def stream_sliding(spark, sf_dir):
    """Sliding-window aggregation through the streaming engine —
    overlap factor length/slide = 2; oracle shared with the batch twin
    ``events_sliding``."""
    stream = W.read_events_stream(spark, sf_dir)
    out = W.sliding_counts(stream)
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


@register("stream_hll_final", oracle=f"""
SELECT grp AS event_type, n_buckets_hit, n_zero_registers, s2, est_raw
FROM ({hll_registers_sql("events", "event_type", "user_id")})
""")
def stream_hll_final(spark, sf_dir):
    """POST-ALL-BATCHES HyperLogLog register state, built BY the
    streaming engine: the (group, bucket) MAX aggregate runs as a
    Structured Streaming aggregation (complete mode, AvailableNow),
    and because HLL registers merge by MAX, the final streaming state
    equals the batch register table bit-for-bit regardless of how the
    micro-batches sliced the input — the sketch-mergeability property
    (approx_distinct_hll_merge) carried over to incremental
    execution, which is exactly how a 100 TB streaming distinct-count
    dashboard stays exact-in-expectation with O(m) state per group.
    The register rollup (exact harmonic sum, raw estimate) happens on
    the final state; the whole estimate is value-oracled against the
    one-shot batch SQL."""
    stream = W.read_events_stream(spark, sf_dir)
    regs = hll_register_table(stream, "event_type", "user_id")
    name, _ = W.run_to_memory(regs, output_mode="complete")
    return (hll_rollup(spark.table(name))
            .select(F.col("grp").alias("event_type"), "n_buckets_hit",
                    "n_zero_registers", "s2", "est_raw"))


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
