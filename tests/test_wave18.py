"""Wave-19 unit tests: streaming HLL final state equals the batch
register rollup, and the pivot matrix equals the long-format counts."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_hll_final_equals_batch(spark):
    from cassandra_join_library_spark.operators.sketch import (
        hll_register_table, hll_rollup,
    )
    from cassandra_join_library_spark.queries.streaming import (
        stream_hll_final,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in
           stream_hll_final(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    want = {r["grp"]: r for r in hll_rollup(
        hll_register_table(ev, "event_type", "user_id")).collect()}
    assert set(got) == set(want)
    for g, w in want.items():
        r = got[g]
        assert r["s2"] == w["s2"], g
        assert r["est_raw"] == w["est_raw"], g
        assert r["n_buckets_hit"] == w["n_buckets_hit"], g


def test_pivot_matches_long_counts(spark):
    from cassandra_join_library_spark.queries.events import (
        _EVENT_TYPES, events_pivot_daily_types,
    )

    sf = "/root/testdata/sf0.001"
    wide = {r["day_epoch"]: r for r in
            events_pivot_daily_types(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    long = ev.groupBy(
        F.unix_timestamp(F.col("ts").cast("date")).cast("bigint")
        .alias("d"), "event_type").count().collect()
    want = {}
    for r in long:
        want.setdefault(r["d"], {t: 0 for t in _EVENT_TYPES})
        want[r["d"]][r["event_type"]] = r["count"]
    assert set(wide) == set(want)
    for d, counts in want.items():
        for t in _EVENT_TYPES:
            assert wide[d][t] == counts[t], (d, t)
