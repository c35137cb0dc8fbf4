"""Incremental view maintenance (IVM) for distributive aggregates.

The warehouse pattern that pairs with the CDC surface
(``operators/cdc.py``): a materialized GROUP-BY view over a 100 TB
fact table is NOT recomputed when a delta arrives — the delta is
aggregated alone (delta-sized work) and algebraically merged into the
view snapshot.  Exact for the distributive/algebraic aggregates
(COUNT, SUM, and anything derived from them, e.g. AVG = SUM/COUNT);
holistic aggregates (MEDIAN, exact DISTINCT) need their own auxiliary
state and are out of scope here.

Deletes are handled by SIGN: a retraction contributes (-1, -value) to
(count, sum) — the classic Z-relation / delta-relation formulation.
Groups whose refreshed count reaches zero vanish from the view
(they no longer exist in the base), and groups first seen in the
delta appear — both fall out of the same full-outer merge, which is
GROUP-CARDINALITY-sized on both sides, never fact-table-sized.

Exactness: sums carry the repo's DECIMAL convention end-to-end, so
``refresh(view, delta) == recompute(base ∪ delta)`` bit-for-bit —
the invariant the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(27,6)"


def aggregate_view(df: DataFrame, group_cols: "list[str]",
                   value_col: str) -> DataFrame:
    """Materialize the view: (group, n_rows, total) with an exact
    decimal total (emitted as decimal — the mergeable state; cast to
    double only at presentation)."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast(DEC)).alias("total"),
    )


def delta_aggregate(changes: DataFrame, group_cols: "list[str]",
                    value_col: str) -> DataFrame:
    """Aggregate a changelog into signed per-group deltas: a delete
    (``op = 'D'``) retracts (-1, -value), anything else inserts
    (+1, +value)."""
    sign = F.when(F.col("op") == "D", F.lit(-1)).otherwise(F.lit(1))
    return changes.groupBy(*group_cols).agg(
        F.sum(sign).alias("d_rows"),
        F.sum(sign.cast(DEC) * F.col(value_col).cast(DEC)).alias("d_total"),
    )


def refresh_view(view: DataFrame, delta: DataFrame,
                 group_cols: "list[str]") -> DataFrame:
    """Merge signed deltas into the view snapshot.  Both sides are
    group-cardinality-sized, so the full-outer join here is cheap by
    construction (unlike a fact-table merge — see cdc.merge_upsert's
    plan note); zero-count groups are dropped."""
    d = delta.select(
        *group_cols, F.col("d_rows").alias("_dr"), F.col("d_total").alias("_dt"))
    merged = view.join(d, group_cols, "full_outer").select(
        *group_cols,
        (F.coalesce(F.col("n_rows"), F.lit(0))
         + F.coalesce(F.col("_dr"), F.lit(0))).alias("n_rows"),
        (F.coalesce(F.col("total"), F.lit(0).cast(DEC))
         + F.coalesce(F.col("_dt"), F.lit(0).cast(DEC))).alias("total"),
    )
    return merged.filter(F.col("n_rows") > 0)


def join_view_delta(a0: DataFrame, da: DataFrame,
                    b0: DataFrame, db: DataFrame,
                    keys: "list[str]") -> DataFrame:
    """Delta maintenance for an inner-join view J = A ⋈ B under
    insert deltas on BOTH sides: the classic three-term expansion

        ΔJ = ΔA ⋈ B₀  ∪  A₀ ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (with A = A₀ ∪ ΔA, B = B₀ ∪ ΔB).  The stored view is never
    rejoined — each term has at least one delta-sized side, which is
    broadcast, so refresh cost is O(|ΔA| + |ΔB|) probes of the big
    sides, not a fact⋈fact shuffle.  Deletes follow the same algebra
    with signed rows (see the aggregate IVM above).  Returns ΔJ; the
    refreshed view is ``view.unionByName(ΔJ)``."""
    return (
        F.broadcast(da).join(b0, keys)
        .unionByName(a0.join(F.broadcast(db), keys))
        .unionByName(F.broadcast(da).join(db, keys))
    )
