"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md §2.6); this is part
of the engine's extension mandate.  Pattern: ``readStream`` (file
source standing in for Kafka/Kinesis) → event-time windowed
aggregation with watermarks → sink.  Batch twins of these
aggregations live in ``queries/events.py`` where the DuckDB oracle can
check them; here the SAME logical plan runs through the streaming
engine (Trigger.AvailableNow), proving the operators are
streaming-safe.

Scale notes: watermark + windowed aggregation keeps state bounded
(windows close and are evicted); ``dropDuplicatesWithinWatermark``
bounds dedup state the same way.  State lives in the state store
(RocksDB on a real cluster), partitioned by grouping key.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dsum


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-based stream of the ``name`` table, one file per trigger
    (schema pinned from the batch read — streaming sources require a
    declared schema)."""
    import os

    from ..sources.catalog import ensure_session_confs

    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
    )
    if os.path.isdir(path):
        # Spark-written table: a DIRECTORY of part files — stream it
        # directly (a filename glob would match nothing)
        return reader.parquet(path)
    # single-file table (the test-data layout): the file source
    # requires a directory, so stream the parent dir with a glob
    # selecting just this table's file
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream of the events table, one file per trigger
    (schema pinned from the batch read — streaming sources require a
    declared schema)."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    stream = _table_stream(spark, sf_dir, "events")
    ts_type = stream.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanosecond timestamps read as long (see sources.catalog.load_events)
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(ts_type, TimestampNTZType):
        # µs-no-tz parquet infers as TIMESTAMP_NTZ; watermarks require
        # TIMESTAMP — cast is value-preserving under the UTC session TZ.
        # Explicit TimestampType(): the "timestamp" string resolves via
        # spark.sql.timestampType and could silently stay NTZ.
        stream = stream.withColumn("ts", F.col("ts").cast(TimestampType()))
    return stream


def event_totals(df: DataFrame, groups: list, start: str) -> DataFrame:
    """Event count ``n_events`` and exact value total ``total_value``
    per ``groups``: column names plus one time window aliased ``w``.
    The result keeps the groups in order, the window as its start in
    epoch seconds named ``start``."""
    return (
        df.groupBy(*groups)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            *(g if isinstance(g, str)
              else F.unix_timestamp("w.start").cast("bigint").alias(start)
              for g in groups),
            "n_events", "total_value",
        )
    )


#: event-time lateness every watermarked stream of this module tolerates
WATERMARK = "2 hours"


def sliding_counts(stream: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes in streaming mode."""
    return event_totals(stream.withWatermark("ts", WATERMARK),
                        [F.window("ts", "1 hour", "30 minutes").alias("w")],
                        "window_start")


def session_counts(stream: DataFrame) -> DataFrame:
    """Per-user session windows with a 10-minute gap in streaming mode
    (state merges as events arrive; watermark closes sessions)."""
    return event_totals(stream.withWatermark("ts", WATERMARK),
                        ["user_id", F.session_window("ts", "10 minutes").alias("w")],
                        "session_start_epoch")


def dedup_stream(stream: DataFrame, keys: "list[str]") -> DataFrame:
    """Streaming exact dedup on key columns.

    ``dropDuplicatesWithinWatermark`` evicts state once the watermark
    passes — the only sane mode for an unbounded 100 TB stream."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)


def run_to_memory(result: DataFrame,
                  output_mode: str = "append") -> "tuple[str, object]":
    """Execute a streaming DataFrame to completion (AvailableNow) into
    an in-memory table with a fresh unique name; returns (table_name,
    query).  Test/driver harness — production sinks are
    kafka/delta/parquet via the same ``writeStream`` call.

    Default mode is ``append`` — the only mode valid for the
    non-aggregating streams half this module produces (``complete``
    throws AnalysisException without a streaming aggregation; pass
    ``complete``/``update`` explicitly for aggregations).  The
    checkpoint directory is a fresh tempdir per call and is left on
    disk with the memory table (test-harness lifetime)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .start()
    )
    q.awaitTermination()
    return name, q


def stream_stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream inner join: pair each left event with the same
    user's right events that happen within 5 minutes AFTER it.

    Both sides carry watermarks and the join condition bounds the
    event-time range — that's what lets the engine evict join state
    (unbounded-range stream joins would keep everything forever)."""
    l = left.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("l_user"), F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type"),
    )
    r = right.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"), F.col("event_type").alias("r_type"),
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_event") != F.col("r_event"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 minutes")),
        "inner",
    )


#: how far past the last real event the sentinel rows of
#: :func:`stage_events_with_sentinels` land: 4 hours
SENTINEL_LEAD_S = 14400


def stage_events_with_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream of the events table followed by one per-user SENTINEL row
    far past the last real event — the end-of-replay flush marker that
    lets a stateful operator close (and emit) every open session, so
    its total output equals the batch twin and can carry a full value
    oracle.

    Mechanics: the events table is staged (with ``sentinel=false``)
    as file 00, the sentinel rows (``sentinel=true``, ``ts = max(ts) +
    lead``, NULL payload) as file 01 with a later mtime; the file
    source with ``maxFilesPerTrigger=1`` replays them in mtime order,
    so the sentinels arrive in a final micro-batch after the watermark
    has advanced past the real data.  On a production bus the same
    marker is an end-of-partition control message from the producer —
    this helper only builds the file-source equivalent.
    """
    import os
    import shutil

    from pyspark.sql.types import TimestampType

    from ..sources.catalog import ensure_session_confs

    ensure_session_confs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not isinstance(ev.schema["ts"].dataType, TimestampType):
        ev = ev.withColumn("ts", F.col("ts").cast(TimestampType()))
    ev2 = ev.withColumn("sentinel", F.lit(False))
    # bounded collect: a single aggregated row (the corpus max ts) —
    # needed driver-side to synthesize the watermark-flushing sentinel
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinels = (
        ev.select("user_id").distinct()
        .withColumn("ts", F.lit(max_ts) + F.expr(
            f"INTERVAL {SENTINEL_LEAD_S} SECOND"))
        .withColumn("sentinel", F.lit(True))
    )
    for c in ev2.columns:
        if c not in sentinels.columns:
            sentinels = sentinels.withColumn(
                c, F.lit(None).cast(ev2.schema[c].dataType))
    sentinels = sentinels.select(*ev2.columns)

    # Deterministic per-(sf_dir, lead) staging path, REUSED across
    # calls: repeated gate/bench runs must not accumulate a fresh copy
    # of the events table in /tmp per invocation (advisor finding,
    # r06).  The staged files are a pure function of the (static)
    # events table, so an existing copy is valid as-is; concurrent
    # gate workers build into a private dir and publish with an atomic
    # rename — the loser just discards its build.
    import hashlib

    def _source_sig(path: str) -> str:
        """mtime+size signature of the events source (file or
        directory-of-parts) — regenerated data at the SAME path must
        produce a different staging key, or stale staged events would
        silently shadow the fresh table (review finding, r07)."""
        if os.path.isdir(path):
            entries = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet"))
            parts = [
                (f, os.stat(os.path.join(path, f)).st_mtime_ns,
                 os.stat(os.path.join(path, f)).st_size)
                for f in entries
            ]
            return repr(parts)
        st = os.stat(path)
        return f"{st.st_mtime_ns}:{st.st_size}"

    src = f"{sf_dir}/events.parquet"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{SENTINEL_LEAD_S}|{_source_sig(src)}"
        .encode()
    ).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"evflush_{key}")
    if not (os.path.isfile(f"{stream_dir}/00.parquet")
            and os.path.isfile(f"{stream_dir}/01.parquet")):
        build = tempfile.mkdtemp(prefix="evflush_build_")
        ev2.coalesce(1).write.parquet(f"{build}/a")
        sentinels.coalesce(1).write.parquet(f"{build}/b")
        staged = f"{build}/stream"
        os.makedirs(staged)
        for i, sub in enumerate(("a", "b")):
            (part,) = [f for f in os.listdir(f"{build}/{sub}")
                       if f.endswith(".parquet")]
            dst = f"{staged}/{i:02d}.parquet"
            shutil.move(f"{build}/{sub}/{part}", dst)
            # mtime drives the file source's replay order — pin it
            os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
        try:
            os.rename(staged, stream_dir)
        except OSError:
            pass  # a concurrent worker published first — theirs is identical
        shutil.rmtree(build, ignore_errors=True)
    return (
        spark.readStream.schema(ev2.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_dir)
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream of the documents table, one file per trigger
    (schema pinned from the batch read, glob-filtered like
    :func:`read_events_stream`) — the streaming-ingest twin of the
    batch corpus loader, for continuous-crawl pipelines."""
    return _table_stream(spark, sf_dir, "documents")
