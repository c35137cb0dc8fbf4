"""Wave-20 unit tests: MP4 two-level box walking, Count-Min Sketch
guarantees and mergeability, Mann-Whitney U vs brute force, and
compaction-bin invariants."""

from __future__ import annotations

import bisect

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.multimodal import (
    parse_mp4_metadata,
    synthesize_mp4,
)
from cassandra_join_library_spark.operators.sketch import (
    cms_counter_table,
    cms_estimate,
)

from .background import heavy_check

SF = "/root/testdata/sf0.001"


def test_mp4_roundtrip_all_layouts(spark):
    # ids crossing every layout axis: compat brands 0/1/2, free y/n,
    # udta y/n, plus a large id for wide duration/timescale values
    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 99999)],
        "doc_id bigint")
    built = synthesize_mp4(ids, "doc_id")
    src = {r["doc_id"]: r for r in built.collect()}
    parsed = {r["doc_id"]: r for r in
              parse_mp4_metadata(built, "doc_id").collect()}
    brands = {0: "isom", 1: "mp42", 2: "avc1"}
    for i, meta in parsed.items():
        assert meta["is_mp4"], i
        assert meta["timescale"] == src[i]["timescale"], i
        assert meta["duration"] == src[i]["duration"], i
        want = int.from_bytes(brands[i % 3].encode(), "big")
        assert meta["major_brand_u32"] == want, i
        # round-half-up integer milliseconds
        ts, d = src[i]["timescale"], src[i]["duration"]
        assert meta["duration_ms"] == (1000 * d + ts // 2) // ts or \
            meta["duration_ms"] == (1000 * d) // ts + (
                1 if 2 * ((1000 * d) % ts) >= ts else 0), i


def test_mp4_corrupt_and_truncated_streams(spark):
    corrupt = spark.createDataFrame([(1,)], "doc_id bigint").select(
        "doc_id", F.unhex(F.lit("deadbeefdeadbeefdeadbeef"))
        .alias("payload"))
    r = parse_mp4_metadata(corrupt, "doc_id").collect()[0]
    assert not r["is_mp4"] and r["timescale"] is None
    # a valid ftyp but no moov within the walk budget
    ftyp_only = "00000010" + "66747970" + "69736f6d" + "00000200"
    nomoov = spark.createDataFrame([(2,)], "doc_id bigint").select(
        "doc_id", F.unhex(F.lit(ftyp_only)).alias("payload"))
    r2 = parse_mp4_metadata(nomoov, "doc_id").collect()[0]
    assert not r2["is_mp4"] and r2["duration_ms"] is None


def _cms_payload(spark):
    # heavy skew: 'hot' appears 500x, 100 singletons force collisions
    rows = [("hot",)] * 500 + [(f"w{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "term string")
    counters = cms_counter_table(df, "term")
    total = counters.agg(F.sum("cnt")).collect()[0][0]
    truths = [("hot", 500)] + [(f"w{i}", 1) for i in range(0, 100, 7)]
    items = spark.createDataFrame(truths, "term string, truth bigint")
    est = {r["term"]: r["cms_est"]
           for r in cms_estimate(items, counters, "term").collect()}
    # SUM-mergeability: shard counters add up to the global table
    h1 = df.limit(300)
    h2 = df.exceptAll(h1)
    merged = (
        cms_counter_table(h1, "term")
        .unionAll(cms_counter_table(h2, "term"))
        .groupBy("i", "col").agg(F.sum("cnt").alias("cnt")))
    diff = (merged.join(counters.withColumnRenamed("cnt", "g"),
                        ["i", "col"], "full_outer")
            .filter(F.coalesce("cnt", F.lit(0))
                    != F.coalesce("g", F.lit(0))))
    return len(rows), total, truths, est, diff.count()


heavy_check("wave20_cms_payload")(_cms_payload)


def test_cms_overestimates_and_merges(heavy_results):
    from cassandra_join_library_spark.operators.sketch import CMS_DEPTH

    n_rows, total, truths, est, n_diff = heavy_results(
        "wave20_cms_payload")
    # counter mass: every row contributes exactly d cells
    assert total == n_rows * CMS_DEPTH
    # point queries never underestimate, and the heavy item is exact
    # (nothing else can add 500 to all four of its cells)
    for term, truth in truths:
        assert est[term] >= truth, term
    assert est["hot"] == 500
    assert n_diff == 0


def test_mannwhitney_matches_bruteforce(spark):
    from cassandra_join_library_spark.queries.stats import (
        stats_mannwhitney_u,
    )

    row = stats_mannwhitney_u(spark, SF).collect()[0]
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    vals = {
        s: sorted(int(r[0]) for r in orders
                  .filter(F.col("o_orderstatus") == s)
                  .select(F.floor("o_totalprice")).collect())
        for s in ("F", "O")
    }
    a, b = vals["F"], vals["O"]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    # U_a*2 = 2*#(a>b) + #(a==b), counted via bisect on sorted B
    u_x2 = sum(2 * bisect.bisect_left(b, x)
               + (bisect.bisect_right(b, x) - bisect.bisect_left(b, x))
               for x in a)
    assert row["u_a_x2"] == u_x2
    assert row["u_a_x2"] + row["u_b_x2"] == 2 * len(a) * len(b)
    assert 0 <= row["auc_ppm"] <= 1_000_000


def test_compaction_bins_tile_and_conserve(spark):
    from cassandra_join_library_spark.queries.relational import (
        _BIN_TARGET, layout_compaction_bins,
    )

    rows = layout_compaction_bins(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    truth = {r["source"]: (r["n"], r["chars"]) for r in
             docs.groupBy("source")
             .agg(F.count("*").alias("n"),
                  F.sum("n_chars").alias("chars")).collect()}
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, bins in by_src.items():
        bins.sort(key=lambda r: r["bin"])
        # bins are consecutive from 0 (next-fit never skips a bin:
        # a bin is only left once its start offset passes the target)
        assert [r["bin"] for r in bins] == list(range(len(bins)))
        assert sum(r["n_files"] for r in bins) == truth[src][0]
        assert sum(r["total_chars"] for r in bins) == truth[src][1]
        # every bin except the last was filled past its boundary's
        # start: its files' spans cover the full target stride
        for r in bins[:-1]:
            assert r["total_chars"] > 0
        # fill factor sanity: interior bins sit near target fill
        interior = bins[:-1]
        if interior:
            avg_fill = sum(r["fill_ppm"] for r in interior) / len(interior)
            assert avg_fill >= 900_000  # >= 0.9x target on average
