"""Event-time queries over ``events`` and ``orders``: windows,
sessions, funnels, as-of joins, change data capture, incremental view
maintenance and time-series analytics.

These are the batch twins of the Structured Streaming queries in
``streaming.py`` — the shapes the DuckDB oracle can check.  Window
starts are epoch-second BIGINTs: Spark's ``window()`` buckets are
epoch-aligned, mirrored in SQL as ``floor(epoch(ts)/width)*width``.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..functions.scalars import dsum
from ..operators import corpus as C
from ..operators.asof import asof_interpolate, asof_join
from ..operators.ivm import join_view_delta
from ..operators.stats import _RDIV, did_2x2, two_proportion_z
from ..operators.timeseries import (
    cusum_integer, ewma_dyadic, interval_union_coverage,
)
from ..registry import register
from ..sources.catalog import load_events, load_table
from ..streaming.windows import event_totals
from ._shared import (
    _CDC_MERGE_ORACLE, _cdc_target_and_changes, _DAILY_ORDER_VALUE,
    _daily_order_value, _rdiv_sql,
    _SESSIONS_10M, _SLIDING_30M, _TP_CENTS, _TUMBLING_1H, _VAL_CENTS,
)

#: click events (``l``) and the last purchase per (user, ts) (``r2``)
_CLICKS_PURCHASES = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r2 AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
  GROUP BY 1, 2
)"""


def _clicks_purchases(spark, sf_dir):
    """``(clicks, purchases)``: click events as ``(event_id, user_id,
    ts)`` and every purchase event."""
    ev = load_events(spark, sf_dir)
    return (ev.filter(F.col("event_type") == "click").select(
                "event_id", "user_id", "ts"),
            ev.filter(F.col("event_type") == "purchase"))


def _per_event(out, *cols):
    """``event_id``, ``user_id`` and ``ts`` in epoch seconds of each
    row of ``out``, then ``cols``."""
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"), *cols)


@register("events_latest_state", oracle="""
WITH r AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value, ts_epoch
FROM r WHERE rn = 1
""")
def events_latest_state(spark, sf_dir):
    """CDC latest-wins compaction: the newest event per user (ts desc,
    event_id tiebreak) — changelog → snapshot in one keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    out = C.latest_state(ev, "user_id", "ts", "event_id")
    return out.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
    )


@register("events_value_outliers", oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(round(value, 6) AS DECIMAL(27,6))) AS s,
         sum(CAST(round(value, 6) AS DECIMAL(27,6))
             * CAST(round(value, 6) AS DECIMAL(27,6))) AS s2
  FROM events GROUP BY 1
), m AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(CAST(s2 AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
              0.0)) AS std
  FROM stats
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - m.mean) / m.std, 6) AS zscore
FROM events e JOIN m USING (event_type)
WHERE m.std > 0 AND abs((e.value - m.mean) / m.std) > 3.0
""")
def events_value_outliers(spark, sf_dir):
    """Per-event-type 3-sigma outliers: decimal-exact moments, one-row-
    per-type broadcast stats, map-only flagging."""
    from ..operators.profiling import value_outliers
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return value_outliers(ev, "event_id", "event_type", "value", n_sigma=3.0)


@register("events_tumbling", oracle=_TUMBLING_1H)
def events_tumbling(spark, sf_dir):
    """Tumbling 1-hour windows per event type."""
    return event_totals(
        load_table(spark, sf_dir, "events"),
        [F.window("ts", "1 hour").alias("w"), "event_type"], "window_start")


@register("events_sliding", oracle=_SLIDING_30M)
def events_sliding(spark, sf_dir):
    """Sliding windows (1 h length, 30 min slide) — each event lands in
    exactly length/slide = 2 windows."""
    return event_totals(
        load_table(spark, sf_dir, "events"),
        [F.window("ts", "1 hour", "30 minutes").alias("w")], "window_start")


@register("events_session", oracle=_SESSIONS_10M)
def events_session(spark, sf_dir):
    """Session windows with a 10-minute inactivity gap per user —
    Spark ``session_window``; the oracle is the classic
    gaps-and-islands rewrite (sessions are half-open: a gap of exactly
    10 min starts a new session)."""
    return event_totals(
        load_table(spark, sf_dir, "events"),
        ["user_id", F.session_window("ts", "10 minutes").alias("w")],
        "session_start_epoch")


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
    hourly = event_totals(
        load_table(spark, sf_dir, "events"),
        [F.window("ts", "1 hour").alias("w"), "event_type"], "hour_start")
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


@register("events_mad_outliers", oracle="""
WITH e AS (
  SELECT event_id, event_type, value, round(value, 6) AS v6 FROM events
), m AS (
  SELECT event_type, round(median(v6), 6) AS med FROM e GROUP BY 1
), d AS (
  SELECT e.*, med, round(abs(v6 - med), 6) AS absdev
  FROM e JOIN m USING (event_type)
), md AS (
  SELECT event_type, round(median(absdev), 6) AS mad FROM d GROUP BY 1
)
SELECT event_id, event_type, value,
       round(0.6745 * (v6 - med) / mad, 6) AS robust_z
FROM d JOIN md USING (event_type)
WHERE mad > 0 AND abs(0.6745 * (v6 - med) / mad) > 3.5
""")
def events_mad_outliers(spark, sf_dir):
    """Median/MAD robust outliers per event type (Iglewicz–Hoban
    modified z > 3.5) — the breakdown-resistant twin of the 3-sigma
    query; exact grouped medians on a bounded-cardinality key."""
    from ..operators.profiling import mad_outliers
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return mad_outliers(ev, "event_id", "event_type", "value", k=3.5)


@register("events_first_touch", oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
), f AS (
  SELECT event_id, user_id, event_type, ep,
         min(CASE WHEN event_type = 'click' THEN ep END) OVER (
           PARTITION BY user_id ORDER BY ep
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS ft
  FROM e
)
SELECT event_id, user_id,
       ep AS conv_ts_epoch,
       ft AS first_touch_epoch,
       ft IS NOT NULL AS attributed,
       CAST(ep - ft AS BIGINT) AS latency_sec
FROM f WHERE event_type = 'purchase'
""")
def events_first_touch(spark, sf_dir):
    """First-touch attribution: each purchase credits the user's
    earliest click in the preceding 7 days — one per-user RANGE
    window, no self-join (contrast: the as-of join is last-touch)."""
    from ..operators.timeseries import first_touch_attribution
    from ..sources.catalog import load_events

    return first_touch_attribution(load_events(spark, sf_dir))


def _with_previous(spark, sf_dir, cols, col, prev):
    """Events of known user and time as ``cols`` plus ``prev``: the
    user's previous ``col`` by ``(ts, event_id)``; each user's first
    event is dropped."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(*cols, F.lag(col).over(w).alias(prev))
        .filter(F.col(prev).isNotNull())
    )


@register("events_inactivity_gaps", oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, event_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS prev_epoch,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       epoch_us(ts) - epoch_us(prev_ts) AS gap_us
FROM seq WHERE prev_ts IS NOT NULL
ORDER BY gap_us DESC, user_id ASC, event_id ASC
LIMIT 50
""")
def events_inactivity_gaps(spark, sf_dir):
    """Top-50 longest per-user inactivity gaps (lag over the
    user-keyed event sequence) — the signal that calibrates the
    sessionization gap threshold and flags churn-risk dormancy.  One
    keyed window + a global top-k (per-partition TakeOrdered, k rows
    to the driver)."""
    seq = _with_previous(spark, sf_dir, ["user_id", "event_id", "ts"],
                         "ts", "prev_ts")
    return (
        seq.select(
            "user_id", "event_id",
            F.unix_timestamp("prev_ts").cast("bigint").alias("prev_epoch"),
            F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
            (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
        )
        .orderBy(F.desc("gap_us"), F.asc("user_id"), F.asc("event_id"))
        .limit(50)
    )


@register("events_markov_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), t AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, event_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
         AS p_transition
FROM t
""")
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the per-user event
    sequence (lag window on the user key) — the behavioral model
    under next-action prediction and anomaly scoring.  Output is
    #event_types² rows; the probability is one integer division, and
    the normalizing window runs over the bounded type key."""
    seq = _with_previous(spark, sf_dir, ["user_id", "event_type"],
                         "event_type", "prev_type")
    t = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    wn = Window.partitionBy("prev_type")
    return t.select(
        "prev_type", "event_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        (F.col("n_transitions").cast("double")
         / F.sum("n_transitions").over(wn).cast("double"))
        .alias("p_transition"),
    )


@register("events_rfm_scores", oracle="""
WITH rfm AS (
  SELECT user_id,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, last_epoch, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY last_epoch, user_id) AS BIGINT) AS r_q,
       CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_q,
       CAST(ntile(5) OVER (ORDER BY monetary NULLS LAST, user_id)
            AS BIGINT) AS m_q
FROM rfm
""")
def events_rfm_scores(spark, sf_dir):
    """RFM (recency / frequency / monetary) quintile scoring per user
    — the classic segmentation feature triple.  One keyed aggregate,
    then three ntile windows with a user_id tiebreak pinning the
    bucket boundaries deterministically.  The windows are global by
    definition (quintiles of the whole population): at 100 TB swap
    ntile for the two-pass percentile-threshold join; here the user
    aggregate is population-sized, already reduced."""
    ev = load_events(spark, sf_dir)
    from ..functions.scalars import dsum

    rfm = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.unix_timestamp(F.max("ts")).cast("bigint").alias("last_epoch"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dsum("value", "monetary"),
        )
    )
    return rfm.select(
        "user_id", "last_epoch", "frequency", "monetary",
        F.ntile(5).over(Window.orderBy("last_epoch", "user_id"))
        .cast("bigint").alias("r_q"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        .cast("bigint").alias("f_q"),
        # NULLS LAST pinned on BOTH sides: a user whose every event has
        # a NULL value yields monetary = NULL, which Spark sorts first
        # ascending but DuckDB sorts last — unpinned, one such user
        # would shift every quintile boundary (review finding, r07)
        F.ntile(5).over(
            Window.orderBy(F.asc_nulls_last("monetary"), "user_id"))
        .cast("bigint").alias("m_q"),
    )


@register("events_linear_attribution", oracle="""
WITH p AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL
), c AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT p.event_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_touch_clicks,
       CASE WHEN COUNT(c.event_id) > 0
            THEN CAST(1 AS DOUBLE) / COUNT(c.event_id) END
         AS credit_per_click
FROM p
LEFT JOIN c ON c.user_id = p.user_id
           AND c.ts <= p.ts
           AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.event_id, p.user_id, p.ts
""")
def events_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: every click within 30 minutes
    before a purchase shares the conversion credit equally (1/n per
    touch).  User-keyed equi-join with a residual time-range predicate
    — shuffles on user_id, never a cartesian; the per-purchase count
    is one aggregation.  The credit is a single integer division, so
    the doubles agree across engines."""
    ev = load_events(spark, sf_dir)
    base = ev.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    p = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"))
    c = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left",
    )
    return (
        joined.groupBy("event_id", "user_id", "p_ts")
        .agg(F.count("c_id").alias("n_touch_clicks"))
        .select(
            "event_id", "user_id",
            F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
            F.col("n_touch_clicks").cast("bigint").alias("n_touch_clicks"),
            F.when(F.col("n_touch_clicks") > 0,
                   F.lit(1.0).cast("double") / F.col("n_touch_clicks"))
            .alias("credit_per_click"),
        )
    )


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


@register("events_user_lifecycle", oracle="""
WITH am AS (
  SELECT DISTINCT user_id,
         CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), mx AS (
  SELECT MAX(m) AS maxm FROM am
), cl AS (
  SELECT user_id, m,
         lag(m)  OVER (PARTITION BY user_id ORDER BY m) AS pm,
         lead(m) OVER (PARTITION BY user_id ORDER BY m) AS nm
  FROM am
), ev AS (
  SELECT m, CASE WHEN pm IS NULL THEN 'new'
                 WHEN pm = m - 1 THEN 'retained'
                 ELSE 'resurrected' END AS kind
  FROM cl
  UNION ALL
  SELECT m + 1, 'churned'
  FROM cl CROSS JOIN mx
  WHERE (nm IS NULL OR nm > m + 1) AND m + 1 <= mx.maxm
)
SELECT m AS month_num,
       CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected,
       CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churned
FROM ev GROUP BY 1
""")
def events_user_lifecycle(spark, sf_dir):
    """Monthly growth accounting (new / retained / resurrected /
    churned users) — the standard startup-metrics decomposition.
    One distinct user-month pass, then per-user lag/lead windows
    (user-partitioned, bounded by a user's active months) classify
    each activity; churn is emitted at month+1 capped at the global
    horizon.  All integer counts; one calendar-sized output."""
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    am = ev.select(
        "user_id",
        ((F.year("ts") - 1970) * 12 + F.month("ts") - 1)
        .cast("bigint").alias("m")).distinct()
    mx = am.agg(F.max("m").alias("maxm"))
    w = Window.partitionBy("user_id").orderBy("m")
    cl = am.select(
        "user_id", "m",
        F.lag("m").over(w).alias("pm"),
        F.lead("m").over(w).alias("nm"))
    active = cl.select(
        "m",
        F.when(F.col("pm").isNull(), "new")
        .when(F.col("pm") == F.col("m") - 1, "retained")
        .otherwise("resurrected").alias("kind"))
    churn = (
        cl.crossJoin(F.broadcast(mx))  # 1-row horizon
        .filter((F.col("nm").isNull() | (F.col("nm") > F.col("m") + 1))
                & (F.col("m") + 1 <= F.col("maxm")))
        .select((F.col("m") + 1).alias("m"), F.lit("churned").alias("kind"))
    )
    ev_rows = active.unionByName(churn)
    return ev_rows.groupBy(F.col("m").alias("month_num")).agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("bigint").alias("n_resurrected"),
        F.sum(F.when(F.col("kind") == "churned", 1).otherwise(0))
        .cast("bigint").alias("n_churned"),
    )


@register("events_ab_conversion_z", oracle="""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS succ
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), a AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN variant = 0 AND succ = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS x0,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN variant = 1 AND succ = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS x1
  FROM u
)
SELECT n0, x0, n1, x1,
       CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
       CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
       CASE WHEN sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) > 0
       THEN (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            / sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                   * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                   * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
       END AS z
FROM a
""")
def events_ab_conversion_z(spark, sf_dir):
    """Two-proportion z-test readout (operators/stats.py
    two_proportion_z): users split by id parity into variants,
    success = a heavy purchaser (>= 14 purchase events — near the
    corpus median, so the split is informative); one row with counts,
    rates, and the pooled z.  Counts are exact integers; z is a fixed
    IEEE tree (divisions + one correctly-rounded sqrt), NULL when the
    pooled rate is degenerate.  One pass at any scale."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)) >= 14, 1).otherwise(0)
        .alias("succ"))
    trials = u.select(
        (F.col("user_id") % 2).cast("bigint").alias("variant"), "succ")
    return two_proportion_z(trials, "variant", "succ")


@register("events_cusum_drift", oracle=f"""{_DAILY_ORDER_VALUE}, base AS (
  SELECT day, v, m,
         v - m - (m // 20) AS d_up,
         m - v - (m // 20) AS d_down
  FROM (SELECT day, v, ({_rdiv_sql("st.s", "st.n")}) AS m
        FROM daily CROSS JOIN st)
), p AS (
  SELECT day, v, m,
         CAST(SUM(d_up) OVER w AS BIGINT) AS p_up,
         CAST(SUM(d_down) OVER w AS BIGINT) AS p_down
  FROM base
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), s AS (
  SELECT day, v, m,
         CAST(p_up - least(0, MIN(p_up) OVER w) AS BIGINT) AS s_up,
         CAST(p_down - least(0, MIN(p_down) OVER w) AS BIGINT) AS s_down
  FROM p
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num, v,
       s_up, s_down, (s_up > m OR s_down > m) AS alarm
FROM s
""")
def events_cusum_drift(spark, sf_dir):
    """Two-sided CUSUM drift detection over daily order revenue
    (operators/timeseries.py cusum_integer): the recursion
    ``S_t = max(0, S_(t-1) + d_t)`` computed exactly via its closed
    form — prefix sum minus running minimum — which IS window-
    expressible; slack = 5% of the rounded mean, alarm at h = mean.
    All BIGINT; the ordering windows run over the calendar-bounded
    daily rollup, never the fact table."""
    daily = _daily_order_value(spark, sf_dir)
    out = cusum_integer(daily, "day", "v", slack_div=20)
    return out.select(
        F.datediff("ord", F.lit("1970-01-01")).cast("bigint")
        .alias("day_num"),
        "v", "s_up", "s_down", "alarm")


@register("events_scd2_pit_join", oracle="""
WITH np AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS pt
  FROM events WHERE event_type <> 'purchase'
), v0 AS (
  SELECT user_id, ts, event_id, event_type FROM np
  WHERE pt IS NULL OR pt <> event_type
), v AS (
  SELECT user_id, ts, MAX(event_id) AS event_id,
         arg_max(event_type, event_id) AS event_type
  FROM v0 GROUP BY 1, 2
), l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, v.event_id AS rid,
           v.event_type AS status,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY v.ts DESC, v.event_id DESC) AS rn
    FROM l JOIN v ON v.user_id = l.user_id AND v.ts <= l.ts
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       m.rid AS matched_event_id, m.status
FROM l LEFT JOIN m ON m.lid = l.event_id
""")
def events_scd2_pit_join(spark, sf_dir):
    """Point-in-time (PIT) join — the feature-store staple: each
    purchase is joined to the SCD2 status version (run-starts of the
    user's NON-purchase event stream) valid AT its timestamp, with
    zero leakage from the future.  Runs as the union-sort as-of
    backward pass (operators/asof.py asof_join): one user-partitioned
    window, no per-fact range join.  The oracle states the
    row_number-over-candidates definition."""
    ev = load_events(spark, sf_dir)
    np_ = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        np_.select("user_id", "ts", "event_id", "event_type",
                   F.lag("event_type").over(w).alias("pt"))
        .filter(F.col("pt").isNull()
                | (F.col("pt") != F.col("event_type")))
        .drop("pt")
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    out = asof_join(left, runs, "user_id",
                    right_payload=["event_type"], direction="backward")
    return _per_event(out, "matched_event_id",
                      F.col("matched_event_type").alias("status"))


@register("events_interarrival_hist", oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS gap_s
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT event_type,
       CAST(length(CAST(gap_s AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1, 2
""")
def events_interarrival_hist(spark, sf_dir):
    """Inter-arrival time histogram per event type: per-user
    consecutive gaps in epoch seconds, bucketed by decimal magnitude
    (digit count — integer-exact in both engines, the repo's standard
    alternative to log buckets; sub-10s gaps including zero share the
    1-digit bucket).  User-partitioned lag window + one bounded
    aggregate — the burstiness read that sizes session timeouts and
    watermark horizons."""
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id")
    es = F.unix_timestamp("ts").cast("bigint")
    g = ev.select(
        "event_type", (es - F.lag(es).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy(
        "event_type",
        F.length(F.col("gap_s").cast("string")).cast("bigint")
        .alias("magnitude"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap"),
        F.max("gap_s").cast("bigint").alias("max_gap"),
    )


@register("events_interval_coverage", oracle="""
WITH iv AS (
  SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) + 300 AS BIGINT) AS e
  FROM events
), flagged AS (
  SELECT k, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT k, s, e,
         SUM(new_island) OVER (PARTITION BY k ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), per_island AS (
  SELECT k, island, CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(MAX(e) - MIN(s) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
)
SELECT k AS user_id, CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(len) AS BIGINT) AS covered
FROM per_island GROUP BY 1
""")
def events_interval_coverage(spark, sf_dir):
    """Union-of-intervals activity coverage per user
    (operators/timeseries.py interval_union_coverage): each event
    opens a 5-minute presence interval; the sweep-line (running max of
    prior ends -> island flags -> prefix-sum island ids) collapses
    overlaps exactly with two user-partitioned window passes — no
    self-joins, no loops.  All integer epoch seconds."""
    ev = load_events(spark, sf_dir)
    s = F.unix_timestamp("ts").cast("bigint")
    iv = ev.select(
        "user_id", s.alias("s"), (s + 300).alias("e"))
    out = interval_union_coverage(iv, "user_id", "s", "e")
    return out.select(
        F.col("key").alias("user_id"),
        "n_intervals", "n_islands", "covered")


@register("events_path_trigrams", oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ordered
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 20
""")
def events_path_trigrams(spark, sf_dir):
    """Top event-type trigram paths (3-step behavioral sequences):
    two LEADs over a user-partitioned window (no self-joins — the
    sequence expansion is window-local), then a map-side-combinable
    path count.  Deterministic ordering on (ts, event_id)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        ordered.filter(F.col("e2").isNotNull()
                       & F.col("e3").isNotNull())
        .groupBy(F.concat_ws(">", "event_type", "e2", "e3")
                 .alias("path"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
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


@register("events_props_json_extract", oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1
""")
def events_props_json_extract(spark, sf_dir):
    """Semi-structured analytics: the JSON ``props`` payload parsed
    engine-side (``get_json_object`` / ``json_extract_string`` — both
    JVM/C++-native, no Python) and aggregated per event type.  The
    path expression prunes to one key; parsing is map-only."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("k").cast("bigint").alias("sum_k"),
             F.min("k").cast("bigint").alias("min_k"),
             F.max("k").cast("bigint").alias("max_k"),
             F.countDistinct("k").cast("bigint").alias("n_distinct_k"))
    )


@register("events_segment_overlap", oracle=f"""
WITH seg AS MATERIALIZED (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
), sizes AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM seg GROUP BY 1
), both_t AS (
  SELECT a.t AS type_a, b.t AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM seg a JOIN seg b ON b.u = a.u AND b.t > a.t
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       CAST({_rdiv_sql("1000000 * n_both",
                       "sa.n + sb.n - n_both")} AS BIGINT)
         AS jaccard_ppm
FROM both_t
JOIN sizes sa ON sa.t = type_a
JOIN sizes sb ON sb.t = type_b
""")
def events_segment_overlap(spark, sf_dir):
    """Audience overlap matrix: for every pair of event types, the
    exact user-set intersection and Jaccard in rounded ppm — the
    segment-overlap readout behind audience planning.  Posting-list
    self-join on user (each user contributes |types-seen|² pairs,
    bounded by the type-domain, never corpus²); the per-type sizes
    broadcast."""
    seg = (load_events(spark, sf_dir)
           .select(F.col("event_type").alias("t"),
                   F.col("user_id").alias("u")).distinct())
    sizes = seg.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    both = (
        seg.select(F.col("t").alias("type_a"), "u")
        .join(seg.select(F.col("t").alias("type_b"), "u"), "u")
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    out = (
        both.join(F.broadcast(sizes.select(F.col("t").alias("type_a"),
                                           F.col("n").alias("n_a"))),
                  "type_a")
        .join(F.broadcast(sizes.select(F.col("t").alias("type_b"),
                                       F.col("n").alias("n_b"))),
              "type_b")
    )
    return out.select(
        "type_a", "type_b", "n_a", "n_b", "n_both",
        F.expr(_RDIV.format(a="1000000 * n_both",
                            b="n_a + n_b - n_both"))
        .cast("bigint").alias("jaccard_ppm"),
    )


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


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register("events_pivot_daily_types", oracle=f"""
SELECT CAST(epoch(CAST(ts AS DATE)) AS BIGINT) AS day_epoch,
       {", ".join(
           f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS {t}"
           for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
""")
def events_pivot_daily_types(spark, sf_dir):
    """Daily event-type matrix via the DataFrame PIVOT surface — the
    wide-format read behind ops dashboards.  The pivot value list is
    EXPLICIT (the bounded type domain): an unlisted pivot forces an
    extra distinct-values job and non-deterministic column order, the
    classic pivot-at-scale mistake.  Compiles to one conditional
    aggregate pass (identical to the oracle's FILTER form) — grouped
    by day, map-side combined."""
    ev = load_events(spark, sf_dir)
    out = (
        ev.groupBy(F.unix_timestamp(F.col("ts").cast("date"))
                   .cast("bigint").alias("day_epoch"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day_epoch",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
          for t in _EVENT_TYPES],
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


@register("asof_click_next_purchase_tol", oracle=_CLICKS_PURCHASES + """
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

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    out = asof_join(clicks, purchases, "user_id",
                    direction="forward", tolerance_seconds=1800)
    return _per_event(out, "matched_event_id")


@register("asof_nearest_event", oracle=_CLICKS_PURCHASES + """, b AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.event_id AS rid, r.ts AS rts,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts DESC) AS rn
    FROM l JOIN r2 r ON r.user_id = l.user_id
     AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE
  ) WHERE rn = 1
), f AS (
  SELECT * FROM (
    SELECT l.event_id AS lid, r.event_id AS rid, r.ts AS rts,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts ASC) AS rn
    FROM l JOIN r2 r ON r.user_id = l.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL
                 OR epoch_us(l.ts) - epoch_us(b.rts)
                    <= epoch_us(f.rts) - epoch_us(l.ts))
            THEN b.rid ELSE f.rid END AS matched_event_id,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL
                 OR epoch_us(l.ts) - epoch_us(b.rts)
                    <= epoch_us(f.rts) - epoch_us(l.ts))
            THEN epoch_us(b.rts) - epoch_us(l.ts)
            WHEN f.rid IS NOT NULL
            THEN epoch_us(f.rts) - epoch_us(l.ts) END AS matched_dt_us
FROM l
LEFT JOIN b ON b.lid = l.event_id
LEFT JOIN f ON f.lid = l.event_id
""")
def asof_nearest_event(spark, sf_dir):
    """NEAREST as-of: each click matched to the closest purchase by
    the same user within +/-30 minutes, either direction (the third
    pandas merge_asof direction, composed from the backward and
    forward one-window passes — still zero extra joins against the
    fact table).  Equal distance prefers the backward match;
    ``matched_dt_us`` is signed (negative = purchase before click)."""
    from ..operators.asof import asof_join_nearest

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    out = asof_join_nearest(clicks, purchases, "user_id",
                            right_id="event_id", tolerance_seconds=1800)
    return _per_event(out, "matched_event_id", "matched_dt_us")


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
    return _per_event(out, "v_before", "v_after", "v_interp")


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


@register("ivm_join_refresh", oracle=f"""
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_TP_CENTS}) AS BIGINT) AS revenue_cents
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY 1, 2
""")
def ivm_join_refresh(spark, sf_dir):
    """Delta maintenance of a join view (operators/ivm.py
    join_view_delta): customer ⋈ orders split into a base snapshot
    plus late-arriving deltas on BOTH sides (1/97th of customers,
    orders from 1998-01-01 on); the three-term delta expansion
    ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — each term broadcast on its delta side,
    no fact⋈fact reshuffle — must reproduce the full join exactly,
    which the oracle checks through a nation/priority rollup."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"), "o_orderpriority",
        "o_orderdate", F.expr(_TP_CENTS).alias("cents"))
    da = c.filter(F.col("ck") % 97 == 0)
    a0 = c.filter(F.col("ck") % 97 != 0)
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    db = o.filter(F.col("o_orderdate") >= cut).drop("o_orderdate")
    b0 = o.filter(F.col("o_orderdate") < cut).drop("o_orderdate")
    view = a0.join(b0, ["ck"])
    refreshed = view.unionByName(
        join_view_delta(a0, da, b0, db, ["ck"]))
    return refreshed.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
          F.sum("cents").cast("bigint").alias("revenue_cents"))
