"""CDC / changelog-merge operators: compaction, seq-aware MERGE upsert.

The reference has no mutation surface (SURVEY.md §2 — it only reads
Cassandra tables); this module is part of the engine's extension
mandate: every large-scale training-data pipeline maintains mutable
snapshots (document corpora with re-crawls and takedown deletes, user/
label tables with corrections) that are fed by append-only changelogs.
The canonical operations:

- ``compact_changelog`` — last-writer-wins per key: changelog →
  snapshot delta in one keyed shuffle (WindowGroupLimit pushes the
  top-1 down to a partial aggregate, so the shuffle carries one row
  per key per map partition, not the whole changelog).
- ``merge_upsert`` — MERGE INTO semantics without a table format:
  apply a compacted delta (upserts + deletes) onto a target snapshot.
  SEQ-AWARE: a change only wins if its sequence key is >= the target
  row's, so applying batches in any grouping composes to the same
  final snapshot as one global merge — the property that makes the
  streaming ``foreachBatch`` twin exact.

Scale: the daily delta is orders of magnitude smaller than a 100 TB
snapshot, so the merge broadcasts the delta and only ever STREAMS the
snapshot: two broadcast-hash joins, zero snapshot shuffles.  Production
table formats (Delta/Iceberg MERGE) add file-level pruning on top; the
row-level semantics are exactly these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def compact_changelog(changes: DataFrame, keys: "list[str]",
                      seq_cols: "list[str]") -> DataFrame:
    """Last change per key (seq desc — ties must be broken by a final
    unique seq column, e.g. an event id)."""
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in seq_cols])
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    keys: "list[str]",
    seq_cols: "list[str]",
) -> DataFrame:
    """Apply a changelog onto a snapshot (MERGE INTO semantics).

    ``target`` columns = keys + payload + ``seq_cols`` (the seq of the
    row's last applied change; keys unique AND non-null — the snapshot
    invariant.  SQL join semantics make NULL keys unmatchable, so a
    NULL-key change can never update a NULL-key target row; it lands
    as a fresh insert instead — pinned by
    ``test_null_key_changes_insert_not_update``.  Scrub or surrogate
    NULL keys upstream if they can occur).
    ``changes`` carries the same columns plus ``op`` ('U' upsert /
    'D' delete).  Winner per key is decided by lexicographic
    ``seq_cols`` comparison (change wins ties — idempotent
    re-application), making batch-wise application composition-safe in
    any batch grouping.  Output schema == target schema.

    Plan: the delta is BROADCAST and the snapshot is only ever
    STREAMED — an anti join drops touched keys and an inner join
    resolves the seq contest, both broadcast-hash (a full-outer join
    can never broadcast in Spark, so the naive formulation would
    shuffle the entire snapshot).  Cost: two snapshot scans, zero
    snapshot shuffles — at 100 TB two sequential reads beat one full
    shuffle write+read by a wide margin, and the second scan prunes to
    keys+seq via parquet column pruning.

    Tombstone caveat: a delete drops the row AND its seq, so a STALE
    update (seq older than the delete) arriving in a LATER batch would
    re-insert the row.  Composition is therefore exact when either
    (a) batches respect seq order across any given key (true for
    ordered-replay sources like the file stream / a partitioned log),
    or (b) the changelog is compacted per key before application.
    If neither holds, retain deleted keys as tombstone rows (op kept
    in the snapshot) and age them out past the max reorder window —
    the standard log-compaction design.
    """
    latest = compact_changelog(changes, keys, seq_cols)
    payload = [c for c in target.columns if c not in keys]

    # the delta is definitionally small here (it is about to be
    # broadcast twice) and is consumed by two branches — eager
    # materialization keeps each branch from re-deriving the
    # compacted changelog (with a window-derived changelog the
    # final plan re-scanned its source per consumer: 9 scans in
    # the cdc_merge_upsert query, measured r12; the column-pruning
    # specialization of shared subtrees defeats exchange reuse)
    c = latest.select(
        *keys, F.struct(*payload).alias("_c"),
        F.struct(*seq_cols).alias("_cseq"), F.col("op").alias("_op"),
    ).localCheckpoint(eager=True)
    # untouched keys stream straight through (broadcast anti)
    kept = target.join(F.broadcast(c.select(*keys)), keys, "left_anti")
    # touched keys: small inner-join result carries both versions;
    # consumed by the stale/update split below — also touched-keys
    # sized (at most the delta's keys), also materialized
    contested = target.select(
        *keys, F.struct(*payload).alias("_t"),
        F.struct(*seq_cols).alias("_tseq"),
    ).join(F.broadcast(c), keys, "inner").localCheckpoint(eager=True)
    change_wins: Column = F.col("_cseq") >= F.col("_tseq")
    stale_keep = (
        contested.filter(~change_wins)
        .select(*keys, "_t.*").select(*target.columns)
    )
    updates = (
        contested.filter(change_wins & (F.col("_op") != "D"))
        .select(*keys, "_c.*").select(*target.columns)
    )
    # inserts: delta keys that hit no target row (delta-sized
    # anti join against the contested key set, never the
    # snapshot).  Explicit broadcast: the checkpoint above erases
    # contested's size estimate and Spark's stats-blind default
    # is a sort-merge anti — contested is touched-keys-sized
    # (<= the already-broadcast delta) by construction
    inserts = (
        c.join(F.broadcast(contested.select(*keys)), keys, "left_anti")
        .filter(F.col("_op") != "D")
        .select(*keys, "_c.*").select(*target.columns)
    )
    return kept.unionByName(stale_keep).unionByName(updates) \
               .unionByName(inserts)
