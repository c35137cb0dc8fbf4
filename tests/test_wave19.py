"""Wave-20 unit tests: JPEG segment walking (variable offsets,
corrupt/deep streams) and equi-depth histogram balance."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.multimodal import (
    parse_jpeg_metadata,
    synthesize_jpeg,
)


def test_jpeg_roundtrip_variable_offsets(spark):
    # ids crossing both the 1-COM/2-COM and com_len variants
    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 8, 9, 1201)], "doc_id bigint")
    built = synthesize_jpeg(ids, "doc_id")
    src = {r["doc_id"]: r for r in built.collect()}
    parsed = {r["doc_id"]: r for r in
              parse_jpeg_metadata(built, "doc_id").collect()}
    for i, meta in parsed.items():
        assert meta["is_jpeg"], i
        assert meta["jpeg_height"] == src[i]["height"], i
        assert meta["jpeg_width"] == src[i]["width"], i
        assert meta["jpeg_precision"] == 8
        assert meta["n_components"] == 3
        # SOF offset must move with the COM segment sizes: base
        # layout is SOI(2) + APP0(18) + per-COM (2 + com_len) bytes
        com_bytes = (2 + (i % 9 + 4)) * (2 if i % 3 == 0 else 1)
        assert meta["sof_offset"] == 2 + 18 + com_bytes + 1, i


def test_jpeg_corrupt_and_sofless_streams(spark):
    corrupt = spark.createDataFrame([(1,)], "doc_id bigint").select(
        "doc_id", F.unhex(F.lit("cafebabe")).alias("payload"))
    r = parse_jpeg_metadata(corrupt, "doc_id").collect()[0]
    assert not r["is_jpeg"] and r["jpeg_width"] is None
    # valid SOI but no SOF0 within the walk budget: APP0 then EOI
    sofless_hex = "ffd8" + "ffe00010" + "4a46494600" + "0101" + "00" \
        + "00480048" + "0000" + "ffd9"
    sofless = spark.createDataFrame([(2,)], "doc_id bigint").select(
        "doc_id", F.unhex(F.lit(sofless_hex)).alias("payload"))
    r2 = parse_jpeg_metadata(sofless, "doc_id").collect()[0]
    assert not r2["is_jpeg"] and r2["sof_offset"] is None


def test_equidepth_buckets_are_balanced(spark):
    from cassandra_join_library_spark.queries.stats import (
        _EQD_BUCKETS, profile_equidepth_price,
    )

    sf = "/root/testdata/sf0.001"
    rows = profile_equidepth_price(spark, sf).collect()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n = li.count()
    n_distinct = li.select(
        F.floor("l_extendedprice").cast("bigint")).distinct().count()
    assert sum(r["n_rows"] for r in rows) == n
    assert sum(r["n_values"] for r in rows) == n_distinct
    # buckets tile the value range without overlap, in order
    srt = sorted(rows, key=lambda r: r["bucket"])
    for a, b in zip(srt, srt[1:]):
        assert a["hi"] < b["lo"]
    # depth balance: with ~unique values per row the heaviest bucket
    # stays within 2x of the ideal depth (tie granularity slack)
    ideal = n / _EQD_BUCKETS
    assert max(r["n_rows"] for r in srt) <= 2 * ideal
