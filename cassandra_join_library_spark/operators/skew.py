"""Skew-mitigation utilities.

AQE's skew-join splitting (enabled in ``session.py``) handles most
skew at runtime; ``salted_join`` is the explicit fallback for the
pathological case AQE can't fix: a many-to-many hot key where ONE
shuffle partition exceeds executor memory no matter how it is split
on one side.

Salting replicates the small side R times and scatters the big side's
hot keys across R sub-partitions — trading R× duplication of the
small side for an even shuffle.  The salt MUST be a pure function of
row CONTENT: rand() or monotonically_increasing_id() both change when
a stage retry recomputes a shuffled partition (row order within the
recomputed partition is not stable), routing the same row to a
different reduce partition — double-or-drop at scale.  We hash the
row's columns instead, so any retry reproduces the identical salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _content_salt_basis(df: DataFrame) -> "list[Column]":
    """All hashable columns of ``df`` — the default content-salt basis.
    Map-typed columns are excluded (xxhash64 rejects them outright);
    if nothing hashable remains, demand an explicit salt column."""
    from pyspark.sql.types import MapType

    names = [
        f.name for f in df.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    if not names:
        raise ValueError(
            "no hashable columns available for the content salt — pass "
            "salt_source explicitly"
        )
    return [F.col(c) for c in names]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: "list[tuple[str, str]]",
    how: str = "inner",
    salt_buckets: int = 8,
    salt_source: "str | None" = None,
) -> DataFrame:
    """Equi-join with a salted key to spread skewed build groups.

    ``on`` is a list of (big_col, small_col) equality pairs.  The big
    side gets ``salt = pmod(xxhash64(<row content>), salt_buckets)``
    where <row content> is ``salt_source`` (pass a unique stable
    column, e.g. a primary key, for a perfectly even scatter) or, by
    default, ALL of the big side's columns; the small side is exploded
    across all salt values.  Output columns match a plain join.

    Determinism precondition: the salt depends only on column values,
    never on row position — a task retry that recomputes a shuffled
    partition reproduces identical salts, so no row is duplicated or
    dropped.  Fully-duplicate big-side rows share a salt bucket; if
    the hot key's rows are near-identical duplicates, pass a unique
    ``salt_source`` column to spread them.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (skew is a "
                         "big-side problem; other joins re-shuffle anyway)")
    salt_basis = (
        [F.col(salt_source)] if salt_source else _content_salt_basis(big)
    )
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_basis), F.lit(salt_buckets)).cast("int")
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    cond: "Column | None" = None
    for bc, sc in on:
        c = big_s[bc] == small_s[sc]
        cond = c if cond is None else (cond & c)
    cond = cond & (big_s["_salt"] == small_s["_salt"])
    return big_s.join(small_s, cond, how).drop("_salt")


def key_histogram(df: DataFrame, key_cols: "list[str]") -> DataFrame:
    """Hot-key diagnostic: the 5 heaviest keys' row counts, heaviest
    first — run this before choosing salt_buckets."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy(F.col("rows").desc())
        .limit(5)
    )


def stratified_topk(
    df: DataFrame,
    stratum_col: str,
    rank_cols: "list[Column | str]",
    n: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """Exact per-stratum top-n via TWO-LEVEL rank — the skew-safe form
    of ``row_number() OVER (PARTITION BY stratum) <= n``.

    A single per-stratum window puts each whole stratum through one
    task; with few huge strata (the common case: a handful of
    languages / market segments over billions of rows) that is the
    single-partition-window trap.  Instead: (1) salt rows into
    ``salt_buckets`` sub-partitions by content hash (retry-stable,
    same argument as :func:`salted_join`) and take a LOCAL top-n per
    (stratum, salt); (2) re-rank only the n x salt_buckets survivors
    per stratum globally.  Any stratum's true top-n is a subset of the
    union of its sub-partition top-n's, so the result is EXACTLY the
    single-window answer; the second window sees a bounded input
    (n x salt_buckets rows per stratum), never the stratum.

    ``rank_cols`` must be a deterministic total order within a stratum
    (include a key tiebreak).  Returns the input columns plus
    ``rn`` (1-based BIGINT) with only rank <= n rows kept.
    """
    from pyspark.sql import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in rank_cols]
    # salt from the ROW's hashable columns, not the rank expressions:
    # rank_cols legitimately contain SortOrder wrappers (F.col.desc()),
    # which cannot be cast or hashed — and any content-derived salt is
    # equally retry-stable
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*_content_salt_basis(df)), F.lit(salt_buckets)),
    )
    w_local = Window.partitionBy(stratum_col, "_salt").orderBy(*cols)
    local = (
        salted.withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= n)
    )
    w_final = Window.partitionBy(stratum_col).orderBy(*cols)
    return (
        local.withColumn("rn", F.row_number().over(w_final).cast("bigint"))
        .filter(F.col("rn") <= n)
        .drop("_salt", "_lrn")
    )
