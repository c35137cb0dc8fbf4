"""Wave-8 operator tests: EWMA against a pure-Python reference,
interpolation against hand-computed lerps, the rendezvous move
property, and checksum order-independence / sensitivity."""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.asof import asof_interpolate
from cassandra_join_library_spark.operators.layout import rendezvous_shards
from cassandra_join_library_spark.operators.profiling import bucket_checksums
from cassandra_join_library_spark.operators.timeseries import ewma_dyadic


def _ts(s):
    return datetime.datetime(2024, 1, 1, 0, 0, s)


def test_ewma_dyadic_matches_python_reference(spark):
    """Dyadic EWMA re-derived independently in Python: weight 2^(n-1-j)
    for the j-th oldest of the n-element frame, half-away-from-zero
    division."""
    import random

    rng = random.Random(7)
    rows = [
        Row(k=k, ts=_ts(i), i=i, v=rng.randint(-1000, 1000))
        for k in ("a", "b") for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.k, r.i): r.ewma_micro
        for r in ewma_dyadic(df, "k", "ts", "i", "v").collect()
    }
    series = {k: [r.v for r in rows if r.k == k] for k in ("a", "b")}
    for k, vs in series.items():
        for i in range(len(vs)):
            frame = vs[max(0, i - 7): i + 1]
            num = sum(v * (1 << j) for j, v in enumerate(frame))
            den = (1 << len(frame)) - 1
            q, r = divmod(abs(num), den)
            expect = (-1 if num < 0 else 1) * (q + (1 if 2 * r >= den else 0))
            assert got[(k, i)] == expect, (k, i)


def test_asof_interpolate_hand_values(spark):
    """Midpoint, edge, and exact-timestamp cases against hand lerps."""
    right = spark.createDataFrame([
        Row(user="u", ts=_ts(10), event_id=1, v_micro=1_000_000),
        Row(user="u", ts=_ts(20), event_id=2, v_micro=3_000_000),
    ])
    left = spark.createDataFrame([
        Row(lid=0, user="u", ts=_ts(5)),    # before first -> forward only
        Row(lid=1, user="u", ts=_ts(10)),   # exact hit -> v_before
        Row(lid=2, user="u", ts=_ts(15)),   # midpoint -> 2_000_000
        Row(lid=3, user="u", ts=_ts(25)),   # after last -> backward only
    ])
    out = {r.lid: r for r in asof_interpolate(
        left, right, "user").collect()}
    assert out[0].v_before is None and out[0].v_interp == 1_000_000.0
    assert out[1].v_interp == 1_000_000.0
    assert out[2].v_interp == 2_000_000.0
    assert out[3].v_after is None and out[3].v_interp == 3_000_000.0


def test_rendezvous_move_property(spark):
    """THE rendezvous guarantee: growing 16 -> 17 shards only CREATES
    the new shard's rows — computed independently by running the
    operator at both sizes and checking the 17-shard counts."""
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    r16 = {r.shard: r for r in
           rendezvous_shards(df, "doc_id", n_shards=16).collect()}
    r17 = {r.shard: r for r in
           rendezvous_shards(df, "doc_id", n_shards=17).collect()}
    moved = sum(r.n_moved_to_new for r in r16.values())
    # every mover lands on shard 16, nothing else changes
    assert r17.get(16) is not None and r17[16].n_rows == moved
    for s in range(16):
        assert r17[s].n_rows == r16[s].n_rows - r16[s].n_moved_to_new
    # the move fraction is near 1/17, not concentrated (hash sanity)
    assert 0.02 < moved / 2000 < 0.12
    assert max(r.n_moved_to_new for r in r16.values()) <= moved // 2


def test_bucket_checksums_order_independent_and_sensitive(spark):
    base = [Row(k=i, a=f"x{i}", b=i % 5) for i in range(300)]
    df1 = spark.createDataFrame(base)
    df2 = spark.createDataFrame(list(reversed(base))).repartition(7)
    cols = ["k", "a", "b"]
    c1 = {r.bucket: (r.n_rows, r.checksum) for r in
          bucket_checksums(df1, "k", cols, bucket_size=64).collect()}
    c2 = {r.bucket: (r.n_rows, r.checksum) for r in
          bucket_checksums(df2, "k", cols, bucket_size=64).collect()}
    assert c1 == c2
    # one changed row flips exactly its bucket's checksum, counts equal
    mutated = [Row(k=i, a=("CHANGED" if i == 130 else f"x{i}"), b=i % 5)
               for i in range(300)]
    c3 = {r.bucket: (r.n_rows, r.checksum) for r in
          bucket_checksums(spark.createDataFrame(mutated), "k", cols,
                           bucket_size=64).collect()}
    diff = [b for b in c1 if c1[b] != c3[b]]
    assert diff == [130 // 64]
    assert c1[130 // 64][0] == c3[130 // 64][0]
