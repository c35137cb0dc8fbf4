"""Bucketed band/interval joins — the scalable rewrite for the theta
joins a BroadcastNestedLoopJoin can't handle (big × big).

A BNLJ is O(N·M) comparisons regardless of selectivity.  When the
theta predicate is a BAND (``|a - b| <= w``) or an INTERVAL
containment (``lo <= x <= hi`` with bounded interval width), the join
can be bucketized: quantize values to width-``w`` buckets, join on the
bucket key (each row joins at most a constant number of buckets), then
apply the exact predicate as a post-filter.  Cost drops from N·M to
Σ per-bucket products — the equi-join machinery (shuffle, AQE, skew
handling) does all the work.

This is the standard rewrite Databricks/Trino apply for range joins;
here it is an explicit operator (Catalyst OSS has no band-join rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ceiling on per-interval bucket replication: beyond this the
# bucketized rewrite is the wrong plan (or the data has a corrupt
# sentinel bound) — fail loudly rather than let sequence() allocate
_MAX_BUCKETS_PER_INTERVAL = 1_000_000


def band_join(
    left: DataFrame,
    left_col: str,
    right: DataFrame,
    right_col: str,
    width: float,
) -> DataFrame:
    """All pairs with ``|left_col - right_col| <= width``.

    Left rows land in bucket ``floor(v/w)``; right rows are replicated
    into buckets {b-1, b, b+1} (any value within ±w of v lies in one of
    those) — a 3× replication of ONE side buys an equi-join instead of
    a cross product.  Output: all left columns + all right columns.

    Float caveat: bucket assignment divides in double, so when a value
    sits within half an ulp of a bucket boundary its computed bucket
    can land one off the real-valued one; a partner at distance
    ~exactly ``width`` could then fall outside the ±1 replication.
    For exact-boundary-critical joins pick a ``width`` that is a power
    of two (exact division) or pre-scale the values to integers.
    """
    if not width > 0:
        # width = 0 is an equality join in disguise — and the bucket
        # division would throw DIVIDE_BY_ZERO mid-job under ANSI mode
        # (the Spark 4 default); fail fast with guidance instead
        raise ValueError(
            f"width must be > 0, got {width!r} (for |a - b| <= 0, "
            "use a plain equi-join)"
        )
    lb = F.floor(F.col(left_col) / F.lit(width)).alias("_band")
    l = left.withColumn("_band", lb)
    rb = F.floor(F.col(right_col) / F.lit(width))
    r = right.withColumn(
        "_band", F.explode(F.array(rb - 1, rb, rb + 1))
    )
    joined = l.join(r, "_band").filter(
        F.abs(F.col(left_col) - F.col(right_col)) <= width
    )
    return joined.drop("_band")


def interval_join(
    points: DataFrame,
    point_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: "float | None" = None,
) -> DataFrame:
    """Point-in-interval join: rows of ``points`` matched to rows of
    ``intervals`` with ``lo <= point <= hi``.

    Intervals are exploded across every bucket they overlap (cost ∝
    interval_width / bucket_width per interval — pick bucket_width ≈
    the typical interval width); points land in one bucket; equi-join
    on bucket + exact containment filter.
    """
    if bucket_width is None:
        raise ValueError("bucket_width is required (≈ typical interval width)")
    if not bucket_width > 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width!r}")
    p = points.withColumn(
        "_bucket", F.floor(F.col(point_col) / F.lit(bucket_width))
    )
    lo_b = F.floor(F.col(lo_col) / F.lit(bucket_width))
    hi_b = F.floor(F.col(hi_col) / F.lit(bucket_width))
    # reversed intervals (hi < lo — a classic upstream data-quality
    # bug) must match NOTHING; unguarded, sequence() would count DOWN
    # and emit garbage candidate buckets.  The guard also keeps a
    # corrupt sentinel hi from asking sequence() for a multi-billion
    # element array: spans beyond _MAX_BUCKETS_PER_INTERVAL fail fast
    # with a pointer at the knob instead of dying deep in execution.
    degenerate = (
        F.col(lo_col).isNull() | F.col(hi_col).isNull()
        | (F.col(hi_col) < F.col(lo_col))
    )
    n_buckets = hi_b.cast("long") - lo_b.cast("long") + 1
    guarded = F.when(
        degenerate, F.array().cast("array<long>")
    ).when(
        n_buckets <= _MAX_BUCKETS_PER_INTERVAL,
        F.sequence(lo_b.cast("long"), hi_b.cast("long")),
    ).otherwise(
        F.raise_error(F.format_string(
            "interval spans %s buckets (max %s): raise bucket_width or "
            "clean outlier intervals", n_buckets.cast("string"),
            F.lit(str(_MAX_BUCKETS_PER_INTERVAL)),
        ))
    )
    iv = intervals.withColumn("_bucket", F.explode(guarded))
    return (
        p.join(iv, "_bucket")
        .filter((F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col)))
        .drop("_bucket")
    )
