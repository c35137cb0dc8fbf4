"""Output sinks beyond the reference's JSON-lines file (K1).

At 100 TB the sink layout IS the performance of every downstream read:
- ``write_partitioned``: hive-style directory partitioning on low-
  cardinality columns → partition pruning for free on read;
- ``write_bucketed``: stable hash bucketing on join/agg keys → bucketed
  tables join without a shuffle (the persistent version of the
  reference's "pre-partition on the next join key",
  ``hash_join.py:302-328``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite",
                     single_file: bool = False) -> None:
    """The reference's result format (one JSON object per line,
    ``hash_join.py:1195-1269``)."""
    (df.coalesce(1) if single_file else df).write.mode(mode).json(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: "list[str]",
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet; readers prune on partition_cols."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: "list[str]",
                   num_buckets: int = 32, sort_cols: "list[str] | None" = None,
                   mode: str = "overwrite") -> None:
    """Bucketed (and optionally sorted) managed table — co-located
    joins/aggregations on the bucket key skip the shuffle."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def compact_parquet(spark, path: str, target_file_mb: int = 128) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    roughly ``target_file_mb`` — the table-maintenance op every
    long-running ingest needs (streaming sinks and fine-grained
    partitions accumulate kilobyte files; at 100 TB the resulting
    task-per-file scheduling and footer overhead dominate reads).

    Sizing comes from the dataset's CURRENT on-disk bytes (Hadoop
    listing — no data scan), so the repartition count adapts to the
    data; the rewrite itself is one shuffle-free coalesce when
    shrinking file counts.  Writes to a temp sibling then swaps, so a
    failed rewrite never destroys the source.  Returns the new file
    count.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    size_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, round(size_bytes / (target_file_mb * 1024 * 1024)))

    # hive-partitioned layouts (dir names like ``col=value``, as
    # write_partitioned produces) must be REWRITTEN partitioned — a
    # flat rewrite would silently destroy the pruning layout and every
    # path-addressed reader.  Partition columns are recovered from the
    # first-level directory names (multi-level via recursion into the
    # first child chain).
    part_cols: "list[str]" = []
    probe = p
    while True:
        subdirs = [f.getPath().getName() for f in fs.listStatus(probe)
                   if f.isDirectory()
                   and "=" in f.getPath().getName()
                   and not f.getPath().getName().startswith("_")]
        if not subdirs:
            break
        part_cols.append(subdirs[0].split("=", 1)[0])
        probe = jvm.org.apache.hadoop.fs.Path(probe, subdirs[0])

    tmp = jvm.org.apache.hadoop.fs.Path(path + "._compacting")
    df = spark.read.parquet(path)
    writer = df.coalesce(n_files).write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp.toString())

    backup = jvm.org.apache.hadoop.fs.Path(path + "._precompact")
    if fs.exists(backup):
        fs.delete(backup, True)
    if not fs.rename(p, backup):
        raise IOError(f"could not move {path} aside for compaction swap")
    if not fs.rename(tmp, p):
        fs.rename(backup, p)  # roll back
        raise IOError(f"could not swap compacted data into {path}")
    fs.delete(backup, True)

    out = [f for f in fs.listStatus(p)
           if f.getPath().getName().endswith(".parquet")]
    return len(out)
