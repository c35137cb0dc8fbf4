"""As-of join — the canonical time-series operator Spark lacks as a
built-in (SURVEY task list names it explicitly).

``asof_join(left, right, ...)``: for each left row, the single right
row with the greatest ``ts`` <= the left row's ``ts``, per key; right
rows are identified by ``event_id``.

Implementation is the scalable union+window pattern, NOT a range join:
tag both sides, union, sort within each key by (ts, side, tiebreak),
and carry the last-seen right row forward with ``last(..., ignorenulls)``
over an unbounded-preceding window.  ONE shuffle on the key — at 100 TB
this is a single sort-exchange, compared to the bucketized range join's
replication or a BNLJ's cross product.

Determinism: right rows with identical (key, ts) are pre-deduplicated
keeping the max tiebreak id, and the window order includes the
tiebreak — identical results under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_payload: "list[str] | None" = None,
    direction: str = "backward",
    tolerance_seconds: "int | None" = None,
) -> DataFrame:
    """Match each left row to the most recent right row at-or-before
    its timestamp, per ``key`` (``direction="backward"``), or the
    earliest right row at-or-after it (``direction="forward"``) —
    the two pandas ``merge_asof`` directions, both sides timed by
    ``ts``.  Output: all left columns + ``matched_event_id`` (+
    matched payload columns),
    NULL when no right row qualifies.

    ``tolerance_seconds`` bounds the match distance: a nearest right
    row farther than the tolerance is nulled out (same one-window
    plan; the bound is applied to the carried match, not via an extra
    join).  In either direction, right rows sharing (key, ts) are
    deduplicated keeping the max ``event_id`` — one documented
    deterministic tiebreak for both.

    ``event_id`` must be an integral column: it doubles as the
    deterministic tiebreak and is carried through a ``bigint`` cast —
    a string id would silently become NULL (every match lost), so we
    reject non-integral dtypes up front."""
    right_payload = right_payload or []
    _rid_dtype = dict(right.dtypes).get("event_id")
    if _rid_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"asof_join right column 'event_id' has dtype {_rid_dtype!r}; "
            "an integral type is required (the id is cast to bigint for the "
            "window tiebreak — a lossy cast would NULL out every match). "
            "Pass a numeric surrogate id, or add one with xxhash64/row_number."
        )

    # SQL join semantics for the degenerate rows, matching the ASOF
    # JOIN oracle: a NULL key or NULL ts on the right can never satisfy
    # `l.key = r.key AND r.ts <= l.ts` — filtered up front (otherwise
    # the window's NULLS-FIRST sort would treat a NULL-ts row as
    # existing at -infinity, and NULL keys would match NULL keys).
    # NULL-key LEFT rows still flow through — their partition simply
    # contains no right rows, so they emerge unmatched, as a left join
    # must.
    r = (
        right.filter(
            F.col(key).isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .groupBy(key, "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            *[F.max_by(c, "event_id").alias(c) for c in right_payload],
        )
    )
    # ONE struct carries the matched row's id AND payloads atomically:
    # per-column last(ignorenulls) would skip a NULL payload value but
    # not the id, stitching together a row that exists nowhere on the
    # right.
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")

    r_tagged = r.select(
        F.col(key).alias("_k"), F.col("ts").alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.struct(
            F.col("event_id").cast("long").alias("_rid"),
            F.col("ts").alias("_rts"),
            *[F.col(c).alias(c) for c in right_payload],
        ).alias("_r"),
    )
    l_tagged = left.select(
        F.col(key).alias("_k"), F.col("ts").alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(r_tagged.schema["_r"].dataType).alias("_r"),
        F.struct(*left.columns).alias("_l"),
    )
    r_tagged = r_tagged.withColumn(
        "_l", F.lit(None).cast(l_tagged.schema["_l"].dataType)
    )
    unioned = l_tagged.unionByName(r_tagged)
    # backward: ts ASC — right rows sort before left rows at equal ts
    # => "<=" semantics; forward: ts DESC — the same right-first tie
    # order gives ">=" semantics, and carrying over the reversed order
    # yields the EARLIEST at-or-after row
    ts_order = F.col("_ts").asc() if direction == "backward" \
        else F.col("_ts").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(
            ts_order,
            F.col("_is_left").asc(),
            F.col("_r._rid").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_is_left", "_l", F.col("_ts").alias("_lts"),
        # a NULL-ts left row has no place on the time axis: backward's
        # NULLS-FIRST ordering leaves it unmatched naturally, but
        # forward's DESC ordering would sort it LAST and hand it the
        # earliest right row — null the match explicitly
        F.when(
            F.col("_ts").isNotNull(),
            F.last("_r", ignorenulls=True).over(w),
        ).alias("_m"),
    )
    if tolerance_seconds is not None:
        # null out matches beyond the tolerance (direction-signed)
        gap = F.unix_micros(F.col("_m._rts")) - F.unix_micros(F.col("_lts"))
        if direction == "backward":
            gap = -gap
        carried = carried.withColumn(
            "_m",
            F.when(gap <= tolerance_seconds * 1_000_000, F.col("_m")),
        )
    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("_m._rid").alias("matched_event_id"))
    out_cols.extend(
        F.col(f"_m.{c}").alias(f"matched_{c}") for c in right_payload
    )
    return carried.filter(F.col("_is_left") == 1).select(*out_cols)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    tolerance_seconds: "int | None" = None,
) -> DataFrame:
    """The third pandas ``merge_asof`` direction: match each left row
    to the CLOSEST right row in either direction (optionally within
    ``tolerance_seconds``), both sides timed by ``ts``.  Composed from
    one backward and one forward :func:`asof_join` pass — still two
    one-window passes over the union, zero extra joins against the
    fact table.  Equal
    distance prefers the backward match (pandas' documented tie rule —
    cross-checked against ``merge_asof(direction='nearest')`` on
    random frames in ``tests/test_timeseries.py``).

    Output: all left columns + ``matched_event_id`` +
    ``matched_dt_us`` (signed: negative = right row before left)."""
    # duplicate the right ts under a private name so the matched
    # timestamp survives as a payload column (the ts column itself is
    # the as-of sort key and collides with the dedup groupBy)
    r = right.withColumn("_nts", F.col("ts"))
    kw = dict(tolerance_seconds=tolerance_seconds, right_payload=["_nts"])
    # CHAIN the passes instead of joining their outputs: asof_join
    # carries every left column through its window, so the backward
    # result (with its match renamed out of the way) IS the forward
    # pass's left side — no row-identity column, no join, and no
    # reliance on monotonically_increasing_id being stable across
    # plan branches (it is not)
    back = asof_join(left, r, key, direction="backward", **kw) \
        .withColumnRenamed("matched_event_id", "_b_id") \
        .withColumnRenamed("matched__nts", "_b_ts")
    both = asof_join(back, r, key, direction="forward", **kw) \
        .withColumnRenamed("matched_event_id", "_f_id") \
        .withColumnRenamed("matched__nts", "_f_ts")
    b_dt = F.unix_micros(F.col("ts")) - F.unix_micros("_b_ts")
    f_dt = F.unix_micros("_f_ts") - F.unix_micros(F.col("ts"))
    pick_b = F.col("_b_id").isNotNull() & (
        F.col("_f_id").isNull() | (b_dt <= f_dt))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(
        F.when(pick_b, F.col("_b_id")).otherwise(F.col("_f_id"))
        .alias("matched_event_id"))
    out_cols.append(
        F.when(pick_b, -b_dt)
        .otherwise(F.when(F.col("_f_id").isNotNull(), f_dt))
        .alias("matched_dt_us"))
    return both.select(*out_cols)


def asof_interpolate(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """Linear-interpolation as-of (the 'lerp join' of time-series
    stores): each left row gets the right-side value interpolated
    between its backward and forward neighbors,

        v(t) = v_b + (v_f - v_b) * (t - t_b) / (t_f - t_b),

    falling back to the single available neighbor at the edges (and
    to the exact value when a neighbor shares the timestamp).  Same
    union-sort-carry plan as :func:`asof_join_nearest` — two
    one-window passes, zero extra joins against the fact table — and
    both sides timed by ``ts``.

    The interpolated value is the integer (micro-unit) ``v_micro``
    column.  The
    interpolation itself is three IEEE double ops over exactly-known
    integers — deterministic and engine-portable, which is the repo's
    parity bar for unavoidable doubles.

    Output: all left columns + ``v_before`` / ``v_after`` (BIGINT,
    NULL at edges) + ``v_interp`` (DOUBLE)."""
    r = right.withColumn("_nts", F.col("ts"))
    payload = ["_nts", "v_micro"]
    back = asof_join(left, r, key, right_payload=payload, direction="backward") \
        .withColumnRenamed("matched_event_id", "_b_id") \
        .withColumnRenamed("matched__nts", "_b_ts") \
        .withColumnRenamed("matched_v_micro", "_b_v")
    both = asof_join(back, r, key, right_payload=payload, direction="forward") \
        .withColumnRenamed("matched_event_id", "_f_id") \
        .withColumnRenamed("matched__nts", "_f_ts") \
        .withColumnRenamed("matched_v_micro", "_f_v")
    t = F.unix_micros(F.col("ts"))
    tb, tf = F.unix_micros("_b_ts"), F.unix_micros("_f_ts")
    vb, vf = F.col("_b_v").cast("bigint"), F.col("_f_v").cast("bigint")
    # the slope multiply runs in DOUBLE: (vf-vb)*(t-tb) can exceed
    # int64 (micro-units x micro-seconds), and IEEE mult/div/add over
    # exactly-known integers is deterministic in both engines
    lerp = (
        vb.cast("double")
        + (vf - vb).cast("double") * (t - tb).cast("double")
        / (tf - tb).cast("double")
    )
    interp = (
        F.when(vb.isNotNull() & vf.isNotNull() & (tf > tb), lerp)
        .when(vb.isNotNull() & vf.isNotNull(), vb.cast("double"))
        .when(vb.isNotNull(), vb.cast("double"))
        .when(vf.isNotNull(), vf.cast("double"))
    )
    out = [F.col(c) for c in left.columns]
    out += [vb.alias("v_before"), vf.alias("v_after"),
            interp.alias("v_interp")]
    return both.select(*out)
