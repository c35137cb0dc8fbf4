"""Sink layout and skew-utility tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.skew import key_histogram, salted_join
from cassandra_join_library_spark.sources import sinks
from cassandra_join_library_spark.sources.catalog import local_frame

from .conftest import SF_SMOKE


def test_write_partitioned_layout_and_pruning(spark, tmp_path):
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    path = str(tmp_path / "orders_part")
    sinks.write_partitioned(
        o.withColumn("status", F.col("o_orderstatus")), path, ["status"]
    )
    import os
    dirs = sorted(d for d in os.listdir(path) if d.startswith("status="))
    assert dirs == ["status=F", "status=O", "status=P"]
    back = spark.read.parquet(path)
    # partition-pruned read returns only that slice
    assert back.filter(F.col("status") == "F").count() == \
        o.filter(F.col("o_orderstatus") == "F").count()


def test_write_bucketed_join_without_shuffle(spark):
    import shutil
    import uuid

    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # unique names: the derby metastore is per-JVM, so a previous run's
    # table LOCATION can survive without its metadata
    suffix = uuid.uuid4().hex[:8]
    tc, to = f"c_b_{suffix}", f"o_b_{suffix}"
    sinks.write_bucketed(c, tc, ["c_custkey"], num_buckets=8)
    sinks.write_bucketed(o, to, ["o_custkey"], num_buckets=8)
    cb, ob = spark.table(tc), spark.table(to)
    joined = cb.join(ob, cb.c_custkey == ob.o_custkey)
    assert joined.count() == c.join(o, c.c_custkey == o.o_custkey).count()
    # bucketed-bucketed equi-join on the bucket key: no exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "Exchange" not in plan


def test_salted_join_matches_plain_join(spark):
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    s = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    plain = l.join(s, l.l_suppkey == s.s_suppkey).count()
    salted = salted_join(l, s, [("l_suppkey", "s_suppkey")], salt_buckets=4).count()
    assert salted == plain


def test_salted_left_join_preserves_unmatched(spark):
    l = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    plain = l.join(o, l.c_custkey == o.o_custkey, "left").count()
    salted = salted_join(l, o, [("c_custkey", "o_custkey")], how="left",
                         salt_buckets=4).count()
    assert salted == plain


def test_key_histogram_orders(spark):
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    hist = key_histogram(l, ["l_suppkey"]).collect()
    assert len(hist) == 5
    assert hist[0]["rows"] >= hist[-1]["rows"]


def test_salted_join_salt_is_content_deterministic(spark):
    """The salt must be a pure function of row content — a stage retry
    that recomputes a shuffled partition must reproduce identical
    salts or rows get double-counted/dropped.  No non-deterministic
    expression (rand, monotonically_increasing_id) may appear anywhere
    in the plan."""
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    s = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    for kwargs in ({}, {"salt_source": "l_orderkey"}):
        out = salted_join(l, s, [("l_suppkey", "s_suppkey")],
                          salt_buckets=8, **kwargs)
        plan = out._jdf.queryExecution().analyzed().toString().lower()
        assert "monotonically_increasing_id" not in plan
        assert "rand(" not in plan


def test_stratified_topk_matches_single_window(spark):
    """Two-level top-k must equal the plain one-window rank exactly
    (the local round only prunes rows that cannot be in the top-n)."""
    from pyspark.sql import Row, Window

    from cassandra_join_library_spark.operators.skew import stratified_topk

    rows = [Row(g=g, v=(i * 37) % 101, k=i) for g in ("a", "b") for i in range(200)]
    df = local_frame(spark, rows)
    two = stratified_topk(df, "g", [F.col("v"), F.col("k")], n=7, salt_buckets=4)
    w = Window.partitionBy("g").orderBy("v", "k")
    one = (
        df.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 7)
    )
    assert sorted(map(tuple, two.select("g", "k", "rn").collect())) == \
        sorted(map(tuple, one.select("g", "k", "rn").collect()))


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from cassandra_join_library_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "fragmented")
    df = spark.range(10_000).withColumn("v", F.col("id") % 7)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 32
    n_after = compact_parquet(spark, path, target_file_mb=128)
    assert n_after < before
    assert n_after == len(glob.glob(f"{path}/*.parquet"))
    out = spark.read.parquet(path)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).collect()[0][0] == \
        df.agg(F.sum("v")).collect()[0][0]
