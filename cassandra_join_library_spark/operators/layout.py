"""Data-layout operators: Z-order (Morton) clustering.

At 100 TB, scan cost is dominated by how well file/row-group min-max
statistics prune the data for the queries you actually run.  A sort on
one column clusters perfectly for that column and not at all for any
other; interleaving the bits of several columns (a Z-order / Morton
curve) gives every participating column partial locality, so parquet
min-max pruning works for predicates on ANY of them.  This is the
same layout technique Delta Lake's OPTIMIZE ZORDER BY applies.

The reference engine (a Cassandra client-side joiner) has no layout
stage at all — clustering is fixed by the Cassandra partition key
(``/root/reference/cassandra_joinlib/hash_join.py:184-272`` scans in
token order).  Z-order is the Spark-native generalization: pick the
clustering AFTER the fact, per table copy, for the workload.

Everything here is a pure JVM expression tree (shift/and/or), fully
inside whole-stage codegen: no UDFs, no shuffle beyond the single
``repartitionByRange`` that the layout itself requires.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(cols: "list[Column | str]", bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of each column.

    Bit ``b`` of dimension ``d`` lands at position ``b*ndims + d`` of
    the result, so sorting by the result alternates between the
    dimensions at every bit level — the classic Z-curve.  Columns must
    be non-negative integers (mask/bucket them first; the caller owns
    choosing a value→int mapping per dimension).

    ``ndims * bits`` must fit in 63 bits.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    ndims = len(cols)
    if ndims * bits > 63:
        raise ValueError(f"{ndims} dims x {bits} bits exceeds a BIGINT")
    parts = []
    for d, c in enumerate(cols):
        c = c.cast("bigint")
        for b in range(bits):
            parts.append(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)),
                            b * ndims + d)
            )
    return reduce(lambda a, x: a.bitwiseOR(x), parts).alias("zval")


def zorder_value_sql(cols: "list[str]") -> str:
    """The same interleave as ``zorder_value``, over the low 8 bits, as
    portable SQL text (DuckDB/ANSI bit operators) — used by the oracle
    so both engines evaluate the identical formula."""
    ndims = len(cols)
    parts = [
        f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {b * ndims + d})"
        for d, c in enumerate(cols)
        for b in range(8)
    ]
    return " | ".join(parts)


def zorder_layout(
    df: DataFrame,
    cols: "list[Column | str]",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Cluster ``df`` along the Z-curve of the low 16 bits of ``cols``.

    Range-partitions on the Z-value (each output file covers a compact
    Z-range, i.e. a compact hyper-rectangle-ish region of the key
    space) and sorts within partitions, so parquet writes produce
    tight min-max stats on every participating column.  Write the
    result with ``df.write.parquet`` — or through
    ``sources.sinks.write_sorted`` — to materialize the layout.

    One shuffle (the range partitioning), as any global re-clustering
    must; the range boundaries come from Spark's reservoir sampling,
    so skewed Z-values still split evenly.

    The Z-value is an internal sort key only — it is dropped before
    returning, so the result schema equals the input schema (a sort
    key need not survive the write; parquet min-max stats on the
    REAL columns are what pruning reads).
    """
    z = zorder_value(cols, 16)
    zcol = "__cjl_zval"
    with_z = df.withColumn(zcol, z)
    if num_partitions:
        parted = with_z.repartitionByRange(num_partitions, zcol)
    else:
        parted = with_z.repartitionByRange(zcol)
    return parted.sortWithinPartitions(zcol).drop(zcol)


def zonemap_report(df: DataFrame, key_col: str, val_col: str) -> DataFrame:
    """Zone-map / data-skipping report: per key-range bucket of 64 keys
    (the stand-in for a parquet row-group or file), the min/max of
    ``val_col`` plus whether a ``val BETWEEN 450 AND 700`` scan could
    PRUNE the whole bucket without reading it — the footer-statistics
    arithmetic every columnar reader runs, surfaced as a layout
    diagnostic (a table sorted on ``val_col`` prunes almost
    everything; a random layout prunes nothing, which is the signal to
    re-cluster / z-order).

    Scale: one hash aggregate keyed on the bucket id — bucket-count
    output, map-side combined, no shuffle beyond it."""
    b = F.expr(f"{key_col} div 64")
    return (
        df.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(val_col).alias("mn"),
            F.max(val_col).alias("mx"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("mn").cast("bigint").alias("min_val"),
            F.col("mx").cast("bigint").alias("max_val"),
            ((F.col("mx") < 450) | (F.col("mn") > 700)).alias("prunable"),
        )
    )


def rendezvous_shards(df: DataFrame, id_col: str,
                      n_shards: int = 16) -> DataFrame:
    """Rendezvous (highest-random-weight) shard placement report: each
    row goes to the shard with the highest deterministic per-(row,
    shard) weight — and when a shard is ADDED, the only rows that move
    are the ones the new shard now wins, exactly 1/(n+1) in
    expectation (the property that makes rebalancing cheap where
    modulo sharding reshuffles almost everything).

    Weights are a public multiplicative hash (Knuth 2654435761) mod a
    Mersenne prime — all-integer, so placement is bit-portable.  Per
    shard: row count under ``n_shards``, how many of its rows the
    (n+1)-th shard would steal, and the move rate (single division).

    Scale: map-only argmax over a constant shard list + one
    shard-count-sized aggregate — no shuffle beyond it."""
    # the mix must be NONLINEAR in the shard id: any chain of
    # multiply/add steps mod p is affine, so per-key weights across
    # shards would form an arithmetic progression and the argmax (and
    # every move under resharding) would be structured, not uniform.
    # Squaring the scrambled value breaks the linearity; both factors
    # stay below 2^31 so every product fits int64 for any id >= 0
    def hrw(s):
        t = f"((({id_col} * 31 + {s}) % 2147483647) * 2654435761) % 2147483647"
        return f"(({t}) * ({t})) % 2147483647"

    wexpr = (
        f"transform(sequence(0, {n_shards - 1}), s -> "
        f"named_struct('w', {hrw('s')}, 's', s))"
    )
    # argmax by (weight, -shard): ties prefer the LOWER shard id
    pick = (
        "aggregate(_ws, named_struct('w', -1L, 's', -1), (acc, x) -> "
        "CASE WHEN x.w > acc.w THEN x ELSE acc END).s"
    )
    new_w = hrw(n_shards)
    max_w = "aggregate(_ws, -1L, (acc, x) -> greatest(acc, x.w))"
    assigned = (
        df.select(F.col(id_col), F.expr(wexpr).alias("_ws"))
        .select(
            F.col(id_col),
            F.expr(pick).cast("bigint").alias("shard"),
            (F.expr(new_w) > F.expr(max_w)).alias("_moves"),
        )
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("_moves"), 1).otherwise(0)).alias("n_moved"),
        )
        .select(
            "shard",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_moved").cast("bigint").alias("n_moved_to_new"),
            (F.col("n_moved").cast("double") / F.col("n_rows"))
            .alias("move_rate"),
        )
    )
