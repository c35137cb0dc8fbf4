"""Event-time windowing over the ``events`` table (batch semantics;
the same aggregations run as Structured Streaming in
``streaming/windows.py`` — these batch twins are what the DuckDB
oracle can check).

Window starts are emitted as epoch-second BIGINTs (parity convention):
Spark's ``window()`` buckets are epoch-aligned, mirrored in SQL with
``floor(epoch(ts)/width)*width``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import dsum
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs
from ..sources.catalog import load_events


@register("events_tumbling", oracle="""
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""")
def events_tumbling(spark, sf_dir):
    """Tumbling 1-hour windows per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


@register("events_sliding", oracle="""
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
def events_sliding(spark, sf_dir):
    """Sliding windows (1 h length, 30 min slide) — each event lands in
    exactly length/slide = 2 windows."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "n_events", "total_value",
        )
    )


@register("events_session", oracle="""
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
def events_session(spark, sf_dir):
    """Session windows with a 10-minute inactivity gap per user —
    Spark ``session_window``; the oracle is the classic
    gaps-and-islands rewrite (sessions are half-open: a gap of exactly
    10 min starts a new session)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("bigint").alias("session_start_epoch"),
            "n_events", "total_value",
        )
    )


@register("events_enrich_join", oracle="""
SELECT e.event_id, e.event_type, e.value,
       c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type IN ('purchase', 'signup')
""")
def events_enrich_join(spark, sf_dir):
    """Stream-enrichment shape: fact stream joined to a small dimension
    — the dimension is explicitly broadcast (no shuffle of the fact
    side; at 100 TB this is the only sane plan)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.filter(F.col("event_type").isin("purchase", "signup"))
        .join(F.broadcast(c), e.user_id == c.c_custkey)
        .select("event_id", "event_type", "value", "c_name", "c_mktsegment")
    )


@register("asof_purchase_click", oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       c.event_id AS matched_event_id
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def asof_purchase_click(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it (operators/asof.py union+window pattern —
    one shuffle; DuckDB's native ASOF JOIN is the oracle)."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="ts", right_ts="ts", right_id="event_id")
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("purchase_epoch"),
        "matched_event_id",
    )


@register("events_retention_cohorts", oracle="""
WITH daily AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
  FROM events
), firsts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM daily GROUP BY user_id
)
SELECT CAST(f.cohort_day * 86400 AS BIGINT) AS cohort_day_start,
       CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM daily a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
""")
def events_retention_cohorts(spark, sf_dir):
    """Daily cohort retention: users are cohorted by their first-seen
    epoch-aligned day; each (cohort, day-offset) cell counts users
    still active that day.  Scale shape: one distinct shuffle on
    (user, day), a per-user min (same key prefix), a user-keyed join,
    and a small final aggregate — no window over the full table, no
    per-user collect.  The activity set is already distinct per
    (user, day), so the cell count is a plain COUNT(*), not a
    COUNT(DISTINCT) (which would need a second dedup exchange)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    ).distinct()
    firsts = daily.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        daily.join(firsts, "user_id")
        .groupBy(
            (F.col("cohort_day") * 86400).cast("bigint").alias("cohort_day_start"),
            (F.col("day") - F.col("cohort_day")).cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register("events_funnel", oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
""")
def events_funnel(spark, sf_dir):
    """Strictly-ordered funnel (view -> click -> purchase): a user
    advances a stage only with an event AFTER their previous stage's
    first event.  ONE events scan (type filter pushed to parquet), one
    user_id shuffle: the three stage timestamps are chained MIN(CASE)
    windows over the same user partition (t2's predicate reads t1's
    window result, so the three WindowExecs stack on one exchange with
    no re-shuffle), then one per-user reduce and a 3-cell stack.  The
    r12 recompute triage replaced the aggregate-join chain whose v/c
    stage frames were each computed twice (differently-pruned aggregate
    consumers defeat exchange reuse — SCALE.md rule): 6 events scans
    became 1."""
    from pyspark.sql import Window

    e = (load_table(spark, sf_dir, "events")
         .select("user_id", "event_type", "ts")
         .filter(F.col("event_type").isin("view", "click", "purchase")))
    w = Window.partitionBy("user_id")

    def first_after(event_type, prev_col):
        hit = F.col("event_type") == event_type
        if prev_col is not None:
            hit = hit & (F.col("ts") > F.col(prev_col))
        return F.min(F.when(hit, F.col("ts"))).over(w)

    staged = (
        e.withColumn("t1", first_after("view", None))
        .withColumn("t2", first_after("click", "t1"))
        .withColumn("t3", first_after("purchase", "t2"))
    )
    # t1/t2/t3 are per-user constants; reduce to one row per user on
    # the partitioning the windows already established (no new
    # exchange), then one tiny global aggregate
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"),
        F.max("t3").alias("t3"))
    counts = per_user.agg(
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n1"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("n2"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias("n3"))
    return counts.selectExpr(
        "stack(3, '1_view', n1, '2_click', n2, '3_purchase', n3) "
        "AS (stage, n_users)")


@register("events_rollup_daily", oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_start,
         event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT CAST(hour_start // 86400 * 86400 AS BIGINT) AS day_start,
       event_type,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CAST(total_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM hourly
GROUP BY 1, 2
""")
def events_rollup_daily(spark, sf_dir):
    """Hypertable-style hierarchical rollup: the daily aggregate is
    built FROM the hourly aggregate (sum of partial sums — the
    continuous-aggregate pattern: coarser resolutions reuse finer ones
    instead of rescanning raw data)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("hour_start"),
            "event_type", "n_events", "total_value",
        )
    )
    return (
        hourly.groupBy(
            (F.floor(F.col("hour_start") / 86400) * 86400).cast("bigint").alias("day_start"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            dsum("total_value", "total_value"),
        )
    )


@register("events_gap_fill", oracle="""
WITH daily AS (
  SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds
), j AS (
  SELECT s.user_id, s.day, d.n_events, d.day_value
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id,
       CAST(day * 86400 AS BIGINT) AS day_start,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       last_value(day_value IGNORE NULLS) OVER
         (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM j
""")
def events_gap_fill(spark, sf_dir):
    """Gap filling + forward fill: densify each user's daily totals
    over their active range and carry the last observed value across
    missing days (operators/timeseries.py — keyed spine explode +
    per-key forward-fill window, no global ops)."""
    from ..operators.timeseries import gap_fill_daily

    e = load_table(spark, sf_dir, "events")
    return gap_fill_daily(e, "user_id", "ts", "value")


@register("events_scd2_history", oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), v AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
       CAST(floor(epoch(lead(ts) OVER w2)) AS BIGINT) AS valid_to,
       (lead(ts) OVER w2) IS NULL AS is_current
FROM v
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def events_scd2_history(spark, sf_dir):
    """SCD-2 dimension history from the event log: per user, collapse
    runs of identical event_type and emit [valid_from, valid_to)
    validity intervals — the CDC-to-warehouse materialization
    (operators/timeseries.py scd2_intervals; the SCD-1 complement of
    cdc_latest_state)."""
    from ..operators.timeseries import scd2_intervals

    e = load_table(spark, sf_dir, "events")
    return scd2_intervals(e, "user_id", "ts",
                          ["event_type"], "event_id")


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


@register("cdc_merge_upsert", oracle=_CDC_MERGE_ORACLE)
def cdc_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format: apply a compacted
    changelog (upserts + deletes) onto a snapshot via one seq-aware
    full-outer join (operators/cdc.py).  Covers all four MERGE cases:
    update (change wins by seq), delete (op='D' drops the row), insert
    (key absent from target), keep (key untouched).  At 100 TB the
    delta side broadcasts and the snapshot never shuffles."""
    from ..operators import cdc as CD

    target, changes = _cdc_target_and_changes(spark, sf_dir)
    return CD.merge_upsert(target, changes, ["user_id"],
                           ["ts_us", "event_id"], "op")


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
                                 ["ts_us", "event_id"], "op")
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


@register("asof_click_next_purchase_tol", oracle="""
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r2 AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
  GROUP BY 1, 2
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       (SELECT r2.event_id FROM r2
        WHERE r2.user_id = l.user_id AND r2.ts >= l.ts
          AND r2.ts <= l.ts + INTERVAL 30 MINUTE
        ORDER BY r2.ts ASC LIMIT 1) AS matched_event_id
FROM l
""")
def asof_click_next_purchase_tol(spark, sf_dir):
    """FORWARD as-of with a match tolerance: each click's next
    purchase by the same user within 30 minutes (conversion
    attribution with a decay bound) — the second pandas-merge_asof
    direction, same one-window union-sort-carry plan, bound applied
    to the carried match (no extra join)."""
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof_join(clicks, purchases, "user_id",
                    direction="forward", tolerance_seconds=1800)
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        "matched_event_id",
    )


@register("ivm_orders_by_month_refresh", oracle="""
WITH applied AS (
  SELECT * FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01'
    AND NOT (o_orderkey % 10 = 0)          -- retracted rows
  UNION ALL
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
)
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM applied
GROUP BY 1
""")
def ivm_orders_by_month_refresh(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): the monthly
    revenue view is materialized over the pre-1999 base, then a
    changelog (post-1999 inserts + retraction of every base order
    with key % 10 = 0) is aggregated ALONE and algebraically merged
    in — delta-sized work, never a base rescan.  The oracle is the
    full recompute over the applied table: refresh == recompute,
    bit-for-bit (decimal totals)."""
    from ..operators import ivm

    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    cut = F.to_timestamp(F.lit("1999-01-01"))

    base = orders.filter(F.col("o_orderdate") < cut)
    view = ivm.aggregate_view(base.select(month, "o_totalprice"),
                              ["month"], "o_totalprice")

    inserts = orders.filter(F.col("o_orderdate") >= cut) \
        .withColumn("op", F.lit("I"))
    deletes = base.filter(F.col("o_orderkey") % 10 == 0) \
        .withColumn("op", F.lit("D"))
    changes = inserts.unionByName(deletes).select(
        month, "o_totalprice", "op")

    delta = ivm.delta_aggregate(changes, ["month"], "o_totalprice")
    refreshed = ivm.refresh_view(view, delta, ["month"])
    return refreshed.select(
        "month", "n_rows", F.col("total").cast("double").alias("total"))
