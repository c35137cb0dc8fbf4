"""Time-series repair operators (engine extension; the reference has
no time-series surface).

``gap_fill_daily`` densifies a per-key daily series and forward-fills
measurements — the missing-data repair step between event ingestion
and windowed analytics.  Scale shape: the spine is generated by a
per-key ``sequence``/``explode`` (map-only — the only wide ops are the
keyed aggregates/joins on the key itself, which all share one hash
partitioning), and the forward-fill window is partitioned per key, so
state is one key's history, never the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import dsum
from .stats import _with_sum_count


def gap_fill_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key dense daily series with forward-filled values.

    Aggregates to (key, day) totals, expands each key's [min-day,
    max-day] range into a gapless spine, left-joins the actuals, and
    forward-fills the value with ``last(..., ignorenulls=True)`` over
    a per-key ordered window.  Days are epoch-aligned (``epoch //
    86400``).  Returns (key, day_start, n_events, filled_value):
    missing days carry ``n_events = 0`` and the most recent prior
    day's total.
    """
    day = F.floor(F.unix_timestamp(ts_col) / 86400).cast("bigint")
    daily = df.groupBy(F.col(key_col), day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(value_col, "day_value"),
    )
    bounds = daily.groupBy(key_col).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        key_col, F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = spine.join(daily, [key_col, "day"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(key_col),
        (F.col("day") * 86400).cast("bigint").alias("day_start"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# NB: validity bounds are emitted at EPOCH-SECOND resolution (the
# repo-wide timestamp parity convention) — two changes inside the same
# second produce an empty [t, t) interval whose earlier version no
# AS-OF consumer can reach; feed microsecond epochs if sub-second
# history must stay addressable.
def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: "list[str]",
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change-event
    log: per key, collapse consecutive events with identical tracked
    values, then stitch each surviving change into a validity interval
    ``[valid_from, valid_to)`` (``valid_to`` null ⇒ current row).

    The CDC-to-warehouse materialization step: the inverse of
    :func:`~..operators.corpus.latest_state` (which keeps only the
    newest version, SCD-1) — this keeps the full versioned history so
    downstream joins can be time-travel (`AS OF`) joins.

    Scale shape: both windows are partitioned by key — state is one
    key's event history, never the table — and the change-collapse
    filter runs BEFORE the interval window, so the second window sees
    only distinct versions (for hot keys with few real changes that is
    the whole fight).  Null-safe value comparison: a transition to or
    from NULL is a change.  ``(ts, tiebreak)`` must totally order each
    key's events.  Timestamps are emitted as epoch seconds (BIGINT)
    per the engine's oracle-parity convention.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changed = F.row_number().over(w) == 1
    for c in value_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    versions = df.withColumn("_chg", changed).filter("_chg")
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    valid_to = F.lead(F.unix_timestamp(F.col(ts_col)).cast("bigint")).over(w2)
    return versions.select(
        F.col(key_col),
        *[F.col(c) for c in value_cols],
        F.unix_timestamp(F.col(ts_col)).cast("bigint").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def first_touch_attribution(events: DataFrame) -> DataFrame:
    """First-touch attribution: each ``purchase`` credits the user's
    EARLIEST ``click`` inside the preceding 7 days.

    One pass, no self-join: events are windowed per user over epoch
    seconds with ``RANGE BETWEEN lookback PRECEDING AND CURRENT ROW``,
    and ``min(ts) FILTER (type = click)`` over that frame is exactly
    the first touch in the window.  Frame state is one user's events
    inside the lookback — bounded by activity rate, never the table —
    and the only shuffle is the per-user hash partitioning.  Contrast
    with the as-of join (``operators/asof.py``), which credits the
    LATEST touch (last-touch attribution).

    Reads (event_id, user_id, ts, event_type).  Returns one row per
    conversion: (event_id, user_id, conv_ts_epoch, first_touch_epoch
    nullable, attributed, latency_sec nullable).
    """
    w = Window.partitionBy("user_id").orderBy("_ep").rangeBetween(-7 * 86400, 0)
    first_touch = F.min(
        F.when(F.col("event_type") == "click", F.col("_ep"))
    ).over(w)
    base = events.select(
        F.col("event_id"), F.col("user_id"), F.col("event_type"),
        F.unix_timestamp(F.col("ts")).cast("bigint").alias("_ep"),
    )
    conv = (
        base.withColumn("_ft", first_touch)
        .filter(F.col("event_type") == "purchase")
    )
    return conv.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("_ep").alias("conv_ts_epoch"),
        F.col("_ft").alias("first_touch_epoch"),
        F.col("_ft").isNotNull().alias("attributed"),
        (F.col("_ep") - F.col("_ft")).cast("bigint").alias("latency_sec"),
    )


def ewma_dyadic(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_micro_col: str,
) -> DataFrame:
    """Exponentially-weighted moving average with DYADIC weights over
    the last k = 8 observations per key: weight 2^(k-1) for the newest
    down to 2^0 for the oldest in frame, normalized by the sum of the
    weights actually present.  Power-of-two weights keep every product
    and the divisor in exact BIGINT, and the result is ONE integer
    division (rounded half away from zero) — so the smoothed series is
    bit-identical across engines and partitionings, unlike a float
    alpha recursion whose accumulation order matters.

    Scale: one key-partitioned window (collect of a ≤k-element frame)
    — no shuffle beyond the window's, state bounded by k.

    Output: key, ts, tiebreak, value_micro, ewma_micro (BIGINT)."""
    k = 8
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    vals = F.collect_list(F.col(value_micro_col).cast("bigint")).over(w)
    # frame values arrive oldest-first; the Horner fold gives its
    # FIRST element the largest weight, so fold the reversed frame —
    # newest first — to weight the newest at 2^(n-1)
    num = F.expr(
        "aggregate(reverse(_vals), 0L, (acc, x) -> acc * 2L + x)"
    )
    den = F.expr("CAST(shiftleft(1L, size(_vals)) - 1 AS BIGINT)")
    # half-away-from-zero on a possibly NEGATIVE numerator: round the
    # magnitude, reapply the sign (integer % follows the dividend's
    # sign in Spark, so the non-negative formula alone would misround)
    rdiv = (
        "(CASE WHEN _num < 0 THEN -1 ELSE 1 END) * "
        "((abs(_num) div _den) + "
        " (CASE WHEN 2 * (abs(_num) % _den) >= _den THEN 1 ELSE 0 END))"
    )
    return (
        df.select(
            F.col(key_col), F.col(ts_col), F.col(tiebreak_col),
            F.col(value_micro_col).cast("bigint").alias(value_micro_col),
            vals.alias("_vals"),
        )
        .withColumn("_num", num)
        .withColumn("_den", den)
        .select(
            F.col(key_col), F.col(ts_col), F.col(tiebreak_col),
            F.col(value_micro_col),
            F.expr(rdiv).cast("bigint").alias("ewma_micro"),
        )
    )


def cusum_integer(
    series: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sided CUSUM drift detection over an INTEGER series,
    exactly — via the closed form ``S_t = P_t - min_{j<=t} P_j``
    (prefix sum minus running minimum, seeded with P_0 = 0) instead
    of the textbook recursion ``S_t = max(0, S_{t-1} + d_t)``, which
    no window function can express directly.

    Deviations use the rounded integer mean m and an allowance
    (slack) of ``m div 20``: upward drift accumulates
    ``x - m - k``, downward drift ``m - x - k``.  Alarm when either
    side exceeds its own mean-sized threshold h = m.

    ``series`` must be pre-aggregated to one row per ``order_col``
    (calendar-bounded) — the ordering windows run over that rollup,
    never the fact table.  All arithmetic is BIGINT; identical to the
    SQL twin by construction.  Returns
    (ord, v, s_up, s_down, alarm)."""
    m = F.expr(
        "((s) div (n)) + (CASE WHEN 2 * ((s) % (n)) >= (n) "
        "THEN 1 ELSE 0 END)")
    k = F.expr("m div 20")
    base = _with_sum_count(series, value_col).select(
        F.col(order_col).alias("ord"),
        F.col(value_col).cast("bigint").alias("v"),
        m.alias("m"),
    ).select(
        "ord", "v", "m",
        (F.col("v") - F.col("m") - k).alias("d_up"),
        (F.col("m") - F.col("v") - k).alias("d_down"),
    )
    w = Window.orderBy("ord").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    p = base.select(
        "ord", "v", "m",
        F.sum("d_up").over(w).cast("bigint").alias("p_up"),
        F.sum("d_down").over(w).cast("bigint").alias("p_down"),
    )
    run_min_up = F.least(F.lit(0).cast("bigint"),
                         F.min("p_up").over(w))
    run_min_down = F.least(F.lit(0).cast("bigint"),
                           F.min("p_down").over(w))
    out = p.select(
        "ord", "v",
        (F.col("p_up") - run_min_up).cast("bigint").alias("s_up"),
        (F.col("p_down") - run_min_down).cast("bigint").alias("s_down"),
        "m",
    )
    return out.select(
        "ord", "v", "s_up", "s_down",
        ((F.col("s_up") > F.col("m"))
         | (F.col("s_down") > F.col("m"))).alias("alarm"),
    )


def interval_union_coverage(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union-of-intervals coverage per key: total length covered by
    the union of [start, end) intervals and the number of disjoint
    islands — the classic sweep-line computed with windows only.

    Per key, intervals sorted by start carry a running maximum of
    prior ends; an interval whose start exceeds that maximum opens a
    new island (flag), and a prefix sum of flags numbers the islands.
    Island length is ``max(end) - min(start)`` within the island;
    overlaps and containments collapse exactly.  One corpus-sized
    sort per key partition, two window passes, one bounded aggregate
    — no self-joins, no island loops.  ``start``/``end`` must be
    BIGINTs (epoch seconds); all arithmetic stays integer.
    Returns (key, n_intervals, n_islands, covered)."""
    kw = Window.partitionBy("k").orderBy("s", "e")
    prev_max_end = F.max("e").over(
        kw.rowsBetween(Window.unboundedPreceding, -1))
    base = df.select(
        F.col(key_col).alias("k"),
        F.col(start_col).cast("bigint").alias("s"),
        F.col(end_col).cast("bigint").alias("e"),
    ).select(
        "k", "s", "e",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1)
        .otherwise(0).alias("new_island"),
    )
    isl = base.select(
        "k", "s", "e",
        F.sum("new_island").over(
            kw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island"),
    )
    per_island = isl.groupBy("k", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        (F.max("e") - F.min("s")).cast("bigint").alias("len"),
    )
    return (
        per_island.groupBy(F.col("k").alias("key"))
        .agg(F.sum("n_intervals").cast("bigint").alias("n_intervals"),
             F.count(F.lit(1)).cast("bigint").alias("n_islands"),
             F.sum("len").cast("bigint").alias("covered"))
    )
