"""Portable deterministic sketches.

Spark's native sketches (HyperLogLog++ `approx_count_distinct`,
Datasketches `hll_sketch_agg`, `percentile_approx`) are the production
path at 100 TB — but their internals are engine-specific, so the
queries built on them can only ever get a rows-only correctness check.
These twins trade a constant factor for PORTABILITY: every step is a
deterministic function of the data (md5-derived 60-bit hashes, exact
arithmetic, fixed tie-breaks), so DuckDB reproduces the estimates
bit-for-bit and the driver gets a FULL value oracle over *approximate*
operators — the estimate itself is graded, not just its row count.

- :func:`kmv_distinct` — K-Minimum-Values distinct-count estimator
  (Bar-Yossef et al.): keep the k smallest hash values per group; with
  uniform 60-bit hashes, E[#distinct] ≈ (k-1) · 2^60 / kth_min.
  Relative error ~ 1/√k (k=256 → ~6%).
- :func:`sampled_percentiles` — hash-Bernoulli sample (keep rows whose
  60-bit hash < 2^60 / rate), exact percentiles of the sample.  The
  sample is a pure function of the rows, so both engines select the
  identical subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parity import MAX_PARITY_DECIMAL_SCALE
from ..sources.catalog import local_frame

# 2^60 — the hash space of a 15-hex-digit md5 prefix (fits BIGINT)
HASH_SPACE = 1 << 60


def _h60(col) -> "F.Column":
    """Deterministic uniform 60-bit hash: decimal value of the first 15
    hex digits of md5 of the value's string form.  Identical in any
    engine with md5 (DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``)
    — for INTEGER and STRING inputs, whose string forms are canonical.
    Floats/timestamps format differently across engines ('1.0E20' vs
    '1e+20'), so the cross-engine contract does not extend to them;
    hash a stable key column instead."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """Per-group approximate distinct count via K Minimum Values.

    Hash every value, keep the k smallest DISTINCT hashes per group;
    the kth-smallest hash position estimates density:
    ``(k-1) · 2^60 / kth`` (groups with fewer than k distinct values
    report their exact count — the estimator is exact below k).

    Plan: one (group, hash) distinct aggregate, one group-keyed top-k
    window (WindowGroupLimit pushes the rank filter below the full
    sort — each map task keeps a partial top-k, the classic mergeable-
    sketch shape), one per-group max/count.  All shuffles on the group
    key.  Estimate arithmetic: ``(k-1) · 2^60`` is an exact double
    (integer · power of two), kth converts BIGINT→double with IEEE
    round-to-nearest in both engines, one division, rounded to 2 dp —
    engine-identical end to end.

    Returns (group, n_min_values, approx_distinct).  NULL values are
    excluded up front (they are not a value; left in, md5(NULL)=NULL
    would eat a sketch slot under Spark's NULLS-FIRST ascending sort
    while the SQL twin sorts NULLs last — divergent estimates).
    """
    hashes = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col), _h60(F.col(value_col)).alias("_h")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("_h")
    topk = (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )
    agg = topk.groupBy(group_col).agg(
        F.max("_h").alias("_kth"),
        F.count(F.lit(1)).cast("bigint").alias("n_min_values"),
    )
    est = F.when(
        F.col("n_min_values") < k, F.col("n_min_values").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * HASH_SPACE)) / F.col("_kth").cast("double")
    )
    return agg.select(
        group_col,
        "n_min_values",
        F.round(est, 2).alias("approx_distinct"),
    )


def sampled_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    percentiles: "tuple[float, ...]" = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group approximate percentiles from a deterministic
    hash-Bernoulli sample.

    Rows whose 60-bit hash of (id) falls below ``2^60 / 8`` form a
    1/8 sample — a pure function of the row, so any engine (and any
    re-run, at any parallelism) draws the IDENTICAL sample; exact
    percentiles of the sample then approximate the population's.  The
    1/8 scan-output reduction is the point at 100 TB: the exact
    sort only ever sees the sample.  Returns one row per group WITH AT
    LEAST ONE SAMPLED ROW (a tiny group can miss the sample entirely —
    left-join the output back if every group key must appear), with
    ``n_sampled`` and one column per requested percentile
    (``p50``, ``p90``, ...; distinct whole-percent values only —
    colliding names raise instead of silently mislabeling a quantile).
    """
    names = [f"p{round(p * 100)}" for p in percentiles]
    if len(set(names)) != len(names):
        raise ValueError(
            f"percentiles {percentiles} collide after whole-percent "
            f"naming ({names}) — use distinct whole-percent values"
        )
    thresh = HASH_SPACE // 8
    sample = df.filter(_h60(F.col(id_col)) < thresh)
    v6 = F.round(F.col(value_col).cast("double"), MAX_PARITY_DECIMAL_SCALE)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_sampled")]
    for p, name in zip(percentiles, names):
        aggs.append(
            F.round(F.percentile(v6, F.lit(p)), MAX_PARITY_DECIMAL_SCALE)
            .alias(name))
    return sample.groupBy(group_col).agg(*aggs)


# HyperLogLog geometry: p=6 -> m=64 registers; 54 payload bits above
# the bucket index, so register values live in 0..55 and the exact
# harmonic sum S2 = sum(2^(55 - M_j)) fits comfortably in BIGINT
# (<= 64 * 2^55 < 2^62).
HLL_M = 64
_HLL_PAYLOAD_BITS = 54
# alpha_64 * m^2 * 2^55 as one decimal literal: decimal-string ->
# double conversion is correctly rounded in every engine, so both
# sides start the estimate tree from the identical double
_HLL_NUM = repr(0.709 * HLL_M * HLL_M * (1 << (_HLL_PAYLOAD_BITS + 1)))


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group PORTABLE HyperLogLog: the register table and the raw
    estimate with EXACT-integer register math, so the full estimate is
    value-oracle-able (Spark's native `approx_count_distinct` is
    engine-internal and can only ever get a rows-only check).

    Geometry: 60-bit md5 hash; bucket = h mod 64; payload w = h div 64
    (54 bits); rank = leading zeros of w within 54 bits, plus one
    (= 55 - bitlength(w), and 55 when w = 0 — both engines agree that
    bin(0) = '0').  Register M_j = MAX rank in bucket j — which is why
    HLL merges across shards/partitions by plain MAX, the property
    that makes it THE distinct-count sketch at 100 TB.  The harmonic
    mean is kept exact: S2 = sum over the 64 registers of
    2^(55 - M_j) (missing buckets contribute 2^55), an integer, so
    est_raw = alpha * m^2 * 2^55 / S2 is one division of exact
    operands — bit-identical in any engine.

    The small-range linear-counting correction (m * ln(m / V) when
    est <= 2.5m and V zero registers exist) is deliberately NOT
    folded in: ln is not IEEE-exactly specified and may differ in the
    last ulp across libms, which would break the value oracle.  The
    exact inputs (n_zero_registers, est_raw) are returned so a
    consumer can apply it; relative error of the raw estimator is
    ~1.04/sqrt(64) = 13%.

    Plan: one (group, bucket) MAX aggregate (map-side combined — the
    mergeability in action), then a group-sized rollup.  Returns
    (group, n_buckets_hit, n_zero_registers, s2, est_raw)."""
    return hll_rollup(hll_register_table(df, group_col, value_col))


def hll_register_table(df: DataFrame, group_col: str,
                       value_col: str) -> DataFrame:
    """The (grp, j, m_j) register table of :func:`hll_registers` —
    the mergeable state: tables from disjoint shards combine by
    full-outer join + GREATEST and roll up to the identical
    estimate."""
    # h div 64 via shiftright: BIGINT `/` in Spark is DOUBLE division,
    # which silently drops bits of a 60-bit hash above 2^53
    bucketed = df.select(
        F.col(group_col).alias("grp"),
        _h60(F.col(value_col)).alias("h"),
    ).select(
        "grp",
        (F.col("h") % HLL_M).cast("bigint").alias("j"),
        F.shiftright("h", HLL_M.bit_length() - 1).cast("bigint")
        .alias("w"),
    )
    rank = F.when(F.col("w") == 0, _HLL_PAYLOAD_BITS + 1).otherwise(
        F.lit(_HLL_PAYLOAD_BITS + 1)
        - F.length(F.expr("bin(w)"))).cast("bigint")
    return (bucketed.select("grp", "j", rank.alias("r"))
            .groupBy("grp", "j")
            .agg(F.max("r").cast("bigint").alias("m_j")))


def hll_rollup(regs: DataFrame) -> DataFrame:
    """Roll a (grp, j, m_j) register table up to the exact harmonic
    sum and raw estimate (see :func:`hll_registers`)."""
    two = F.lit(2).cast("bigint")
    s2_hit = F.sum(F.pow(two, _HLL_PAYLOAD_BITS + 1 - F.col("m_j"))
                   .cast("bigint")).cast("bigint")
    out = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_hit"),
        s2_hit.alias("s2_hit"),
    )
    # absent buckets carry M_j = 0 -> each contributes 2^55 to S2
    zero_term = F.lit(1 << (_HLL_PAYLOAD_BITS + 1)).cast("bigint")
    return out.select(
        F.col("grp"),
        "n_buckets_hit",
        (F.lit(HLL_M) - F.col("n_buckets_hit")).cast("bigint")
        .alias("n_zero_registers"),
        (F.col("s2_hit")
         + (F.lit(HLL_M) - F.col("n_buckets_hit")) * zero_term)
        .cast("bigint").alias("s2"),
        (F.expr(_HLL_NUM)
         / (F.col("s2_hit")
            + (F.lit(HLL_M) - F.col("n_buckets_hit")) * zero_term)
         .cast("double")).cast("double").alias("est_raw"),
    )


def hll_registers_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB twin of :func:`hll_registers` — identical hash, rank,
    and exact harmonic arithmetic."""
    b = _HLL_PAYLOAD_BITS
    return f"""
WITH hashed AS (
  SELECT {group_col} AS grp,
         ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM {table}
), bucketed AS (
  SELECT grp, h % {HLL_M} AS j, h // {HLL_M} AS w FROM hashed
), ranked AS (
  SELECT grp, j,
         CASE WHEN w = 0 THEN {b + 1}
              ELSE {b + 1} - length(bin(w)) END AS r
  FROM bucketed
), regs AS (
  SELECT grp, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2
), rolled AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
         CAST(SUM(CAST(2 ** ({b + 1} - m_j) AS BIGINT)) AS BIGINT)
           AS s2_hit
  FROM regs GROUP BY 1
)
SELECT grp, n_buckets_hit,
       CAST({HLL_M} - n_buckets_hit AS BIGINT) AS n_zero_registers,
       CAST(s2_hit + ({HLL_M} - n_buckets_hit)
            * {1 << (b + 1)} AS BIGINT) AS s2,
       CAST({_HLL_NUM} / CAST(s2_hit + ({HLL_M} - n_buckets_hit)
                              * {1 << (b + 1)} AS DOUBLE) AS DOUBLE)
         AS est_raw
FROM rolled
"""


# ---------------------------------------------------------------------------
# Count-Min Sketch — the frequency twin of the HLL distinct sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4     # independent hash rows (error probability ~ e^-d)
CMS_WIDTH = 256   # counters per row (overestimate ~ N * e / w)


def _cms_bucket(i: int, col) -> "F.Column":
    """Row-``i`` counter index for an item: the 60-bit md5 hash of
    ``"i|item"`` mod the row width.  The row index is SALTED INTO the
    hashed string, so the d rows are independent hash functions
    derived from one md5 — same portability contract as :func:`_h60`
    (DuckDB: ``('0x' || substr(md5(i || '|' || x), 1, 15))::BIGINT %
    w``)."""
    salted = F.concat(F.lit(f"{i}|"), col.cast("string"))
    return (F.conv(F.substring(F.md5(salted), 1, 15), 16, 10)
            .cast("bigint") % CMS_WIDTH)


def _cms_cells(item: Column) -> Column:
    """``c``: one ``(i, col)`` counter cell per sketch row of
    ``item``, exploded."""
    return F.explode(F.array(*[
        F.struct(F.lit(i).cast("bigint").alias("i"),
                 _cms_bucket(i, item).alias("col"))
        for i in range(CMS_DEPTH)
    ])).alias("c")


def cms_counter_table(df: DataFrame, item_col: str) -> DataFrame:
    """The Count-Min counter table over a (possibly corpus-sized)
    item stream: d·w = {d}·{w} BIGINT counters, built by ONE grouped
    count over the exploded (row, bucket) cells — 4 cells per item,
    map-side combined down to ≤{d}·{w} rows per partition before the
    shuffle.  Counters are SUM-mergeable (unlike HLL's MAX), which is
    what makes the sketch work as a streaming complete-mode aggregate
    and as a partial-aggregate tree at 100 TB: any sharding of the
    input sums to the identical table.  Returns (i, col, cnt)."""
    cells = df.select(_cms_cells(F.col(item_col))).select("c.i", "c.col")
    return cells.groupBy("i", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))


cms_counter_table.__doc__ = cms_counter_table.__doc__.format(
    d=CMS_DEPTH, w=CMS_WIDTH)


def cms_counters_sql(rows_sql: str, item_expr: str) -> str:
    """DuckDB twin of :func:`cms_counter_table`: ``rows_sql`` is a
    FROM-able relation producing one row per item occurrence,
    ``item_expr`` the item's string form.  Returns SQL for the
    (i, col, cnt) counter table."""
    branches = "\n  UNION ALL\n".join(
        f"  SELECT CAST({i} AS BIGINT) AS i, "
        f"('0x' || substr(md5('{i}|' || ({item_expr})), 1, 15))::BIGINT "
        f"% {CMS_WIDTH} AS col FROM {rows_sql}"
        for i in range(CMS_DEPTH)
    )
    return (f"SELECT i, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM (\n"
            f"{branches}\n) GROUP BY 1, 2")


def cms_estimate(items: DataFrame, counters: DataFrame,
                 item_col: str) -> DataFrame:
    """Point-query the sketch for each row of ``items`` (a SMALL
    relation — candidates, not the stream): explode each item into
    its d (row, bucket) cells, equi-join the counter table, take the
    per-item MIN — the Count-Min estimate, guaranteed ≥ the true
    count.  d·|items| join rows against a ≤d·w-row broadcast side."""
    item = F.col(item_col)
    cells = items.select(item, _cms_cells(item)).select(
        item_col, "c.i", "c.col")
    return (cells.join(F.broadcast(counters), ["i", "col"])
            .groupBy(item_col)
            .agg(F.min("cnt").cast("bigint").alias("cms_est")))


# ---------------------------------------------------------------
# log-binned quantile sketch: the third member of the portable
# mergeable-sketch family (HLL -> distinct, CMS -> heavy hitters,
# log bins -> quantiles).  State is <= 64 (bin, count) rows per
# table regardless of data size; merge algebra is plain SUM, so
# shard tables combine exactly like CMS counters.

def logbin_table(df: DataFrame, cents_expr: str,
                 shard: "Column | None" = None) -> DataFrame:
    """Mergeable log-bin counts over a positive BIGINT expression:
    bin = bit_length(value) (1-based), one row per occupied bin.

    The quantile twin of :func:`hll_register_table` / the CMS counter
    table: bounded state (<= 64 rows), SUM-mergeable across shards /
    partitions / days, and the rank->bin lookup brackets any quantile
    within one power of two — the accuracy class a 100 TB monitoring
    rollup needs at ~512 bytes of state.  ``cents_expr`` must be
    exact POSITIVE integer units (DECIMAL-derived cents, never raw
    doubles) so both engines bin identically; zero/negative/NULL
    values have no bit-length bin and fail loudly per row (the
    sign_signatures guard pattern) instead of returning a bracket
    that excludes the true value.

    ``shard``: optionally, a grouping expression — the result gains a
    leading ``shard_id`` column and holds one bin table PER SHARD,
    built in a single pass over ``df`` (the per-day / per-partition
    build shape, same hook as ``bloom_words_table``); SUM over
    ``bin`` folds them into the corpus sketch.  One-pass sharding is
    what keeps a merge PROOF from multiplying base-table scans
    (filtering per shard re-scanned the source once per shard)."""
    v = F.expr(cents_expr)
    guarded = df.filter(F.assert_true(
        v.isNotNull() & (v > 0),
        F.format_string(
            "logbin_table: value %s is not a positive integer — "
            "bit-length bins need exact positive units",
            v.cast("string")),
    ).isNull())
    bin_col = F.expr(f"length(bin({cents_expr}))").cast("bigint").alias("bin")
    if shard is not None:
        return (guarded.select(shard.alias("shard_id"), bin_col)
                .groupBy("shard_id", "bin")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    return (guarded.select(bin_col)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))


def logbin_quantiles(bins: DataFrame, q_pcts: "list[int]") -> DataFrame:
    """Bracket each requested percentile from a log-bin table: the
    smallest bin whose cumulative count reaches rank
    ``ceil(q * n / 100)``, with its [2^(bin-1), 2^bin - 1] bounds.

    The cumulative window runs over <= 64 bin rows (state-bounded,
    never data-sized); the q-spec side is a literal |q_pcts|-row
    broadcast."""
    from pyspark.sql import Window

    cum = bins.select(
        "bin", "cnt",
        F.sum("cnt").over(
            Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("cum"),
    )
    total = bins.agg(F.sum("cnt").cast("bigint").alias("n"))
    qs = local_frame(bins.sparkSession, [(int(q),) for q in q_pcts],
                     "q_pct bigint")
    spec = qs.crossJoin(F.broadcast(total)).select(
        "q_pct", "n",
        F.expr("(q_pct * n + 99) DIV 100").cast("bigint")
        .alias("target_rank"))
    hit = (spec.join(F.broadcast(cum),
                     F.col("cum") >= F.col("target_rank"))
           .groupBy("q_pct", "n", "target_rank")
           .agg(F.min("bin").cast("bigint").alias("bin")))
    return hit.select("q_pct", "n", "target_rank", "bin", *_bin_bounds())


def _bin_bounds() -> "list[Column]":
    """``bin_lo`` and ``bin_hi``: the value range of log bin ``bin``."""
    # bin is bit_length of a positive BIGINT, so 1 <= bin <= 63;
    # bin = 63 needs a special case — shiftleft(1L, 63) wraps to
    # Long.MIN_VALUE and the "- 1" throws ARITHMETIC_OVERFLOW under
    # ANSI mode.  The true upper bound of the top bin IS Long.MAX.
    return [
        F.expr("shiftleft(1L, CAST(bin - 1 AS INT))").cast("bigint")
        .alias("bin_lo"),
        F.expr("CASE WHEN bin >= 63 THEN 9223372036854775807L "
               "ELSE shiftleft(1L, CAST(bin AS INT)) - 1 END")
        .cast("bigint").alias("bin_hi"),
    ]


def logbin_quantiles_grouped(bins: DataFrame,
                             q_pcts: "list[int]") -> DataFrame:
    """Per-group twin of :func:`logbin_quantiles` over a sharded bin
    table (``shard_id``, ``bin``, ``cnt`` — the :func:`logbin_table`
    ``shard=`` output, with ``shard_id`` carrying the GROUP key).

    Same rank->bin bracket per group; the cumulative window is
    partitioned by the group and still runs over <= 64 rows per
    partition (sketch-state-sized, never data-sized).  Returns
    (shard_id, q_pct, n, target_rank, bin, bin_lo, bin_hi)."""
    cum = bins.select(
        "shard_id", "bin", "cnt",
        F.sum("cnt").over(
            Window.partitionBy("shard_id").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("cum"),
    )
    total = bins.groupBy("shard_id").agg(
        F.sum("cnt").cast("bigint").alias("n"))
    qs = local_frame(bins.sparkSession, [(int(q),) for q in q_pcts],
                     "q_pct bigint")
    spec = total.crossJoin(F.broadcast(qs)).select(
        "shard_id", "q_pct", "n",
        F.expr("(q_pct * n + 99) DIV 100").cast("bigint")
        .alias("target_rank"))
    hit = (spec.join(cum.withColumnRenamed("shard_id", "sid"),
                     (F.col("sid") == F.col("shard_id"))
                     & (F.col("cum") >= F.col("target_rank")))
           .groupBy("shard_id", "q_pct", "n", "target_rank")
           .agg(F.min("bin").cast("bigint").alias("bin")))
    return hit.select("shard_id", "q_pct", "n", "target_rank", "bin",
                      *_bin_bounds())
