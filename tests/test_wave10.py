"""Wave-10 operator unit tests: hand-computed cases for CUSUM,
assortativity, phi, KS, grouped Gini, and the PIT join."""

from __future__ import annotations

import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.graph import (
    degree_assortativity,
)
from cassandra_join_library_spark.operators.stats import (
    gini_grouped, ks_two_sample_integer, phi_binary,
)
from cassandra_join_library_spark.operators.timeseries import cusum_integer


def test_cusum_matches_textbook_recursion(spark):
    """The closed form (prefix sum - running min) must equal the
    recursion S_t = max(0, S_(t-1) + d_t) replayed in Python."""
    rng = random.Random(11)
    vals = [100 + rng.randrange(-30, 31) for _ in range(60)]
    vals[40:50] = [160 + rng.randrange(0, 10) for _ in range(10)]  # drift
    df = spark.createDataFrame(
        list(enumerate(vals)), "t bigint, v bigint")
    out = {r["ord"]: r for r in
           cusum_integer(df, "t", "v").collect()}

    s = sum(vals)
    n = len(vals)
    m = s // n + (1 if 2 * (s % n) >= n else 0)
    k = m // 20
    s_up = s_down = 0
    for t, v in enumerate(vals):
        s_up = max(0, s_up + (v - m - k))
        s_down = max(0, s_down + (m - v - k))
        assert out[t]["s_up"] == s_up, t
        assert out[t]["s_down"] == s_down, t
        assert out[t]["alarm"] == (s_up > m or s_down > m), t
    # the injected drift must actually alarm
    assert any(r["alarm"] for r in out.values())


def test_assortativity_star_is_negative_one(spark):
    """A star graph is perfectly disassortative: r = -1."""
    e = spark.createDataFrame(
        [Row(u=0, v=i) for i in range(1, 6)], "u bigint, v bigint")
    r = degree_assortativity(e).collect()[0]
    assert r["m"] == 10
    assert abs(r["assortativity"] - (-1.0)) < 1e-12


def test_assortativity_regular_graph_is_null(spark):
    """A cycle (all degrees equal) has zero degree variance -> NULL."""
    n = 6
    e = spark.createDataFrame(
        [Row(u=min(i, (i + 1) % n), v=max(i, (i + 1) % n))
         for i in range(n)], "u bigint, v bigint")
    r = degree_assortativity(e).collect()[0]
    assert r["assortativity"] is None


def test_phi_perfect_and_independent(spark):
    a = spark.createDataFrame(
        [(1, 1)] * 10 + [(0, 0)] * 10, "x bigint, y bigint")
    r = phi_binary(a, "x", "y", "p").collect()[0]
    assert r["phi"] == 1.0
    b = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 1), (0, 0)] * 5, "x bigint, y bigint")
    r = phi_binary(b, "x", "y", "q").collect()[0]
    assert r["phi"] == 0.0
    c = spark.createDataFrame([(1, 1)] * 4, "x bigint, y bigint")
    assert phi_binary(c, "x", "y", "r").collect()[0]["phi"] is None


def test_ks_matches_bruteforce(spark):
    """Integer KS == brute-force D over two random integer samples."""
    rng = random.Random(5)
    g1 = [rng.randrange(0, 50) for _ in range(80)]
    g2 = [rng.randrange(10, 70) for _ in range(60)]
    df = spark.createDataFrame(
        [(0, v) for v in g1] + [(1, v) for v in g2], "g bigint, v bigint")
    r = ks_two_sample_integer(df, "g", "v").collect()[0]
    n1, n2 = len(g1), len(g2)
    vals = sorted(set(g1) | set(g2))
    best = max(abs(sum(x <= v for x in g1) * n2
                   - sum(x <= v for x in g2) * n1) for v in vals)
    assert (r["n1"], r["n2"], r["d_num"]) == (n1, n2, best)
    assert r["d"] == best / (n1 * n2)
    ats = [v for v in vals
           if abs(sum(x <= v for x in g1) * n2
                  - sum(x <= v for x in g2) * n1) == best]
    assert r["at_value"] == min(ats)


def test_ks_identical_samples_is_zero(spark):
    vals = [1, 2, 3, 4, 5] * 4
    df = spark.createDataFrame(
        [(0, v) for v in vals] + [(1, v) for v in vals],
        "g bigint, v bigint")
    r = ks_two_sample_integer(df, "g", "v").collect()[0]
    assert r["d_num"] == 0 and r["d"] == 0.0


def test_gini_extremes(spark):
    """All-equal values -> G = 0 under within-bucket equality; a
    single owner -> G -> (n-1)/n (here computed exactly with bucket
    width 1)."""
    eq = spark.createDataFrame([(7,)] * 10, "v bigint")
    r = gini_grouped(eq, "v", 1).collect()[0]
    assert r["gini"] == 0.0
    one = spark.createDataFrame([(0,)] * 9 + [(90,)], "v bigint")
    r = gini_grouped(one, "v", 1).collect()[0]
    # Lorenz: 9 docs own 0, one owns all -> G = 1 - (2*1-1)/10 = 0.9
    assert r["gini"] == 0.9


def test_gini_matches_bruteforce_grouped(spark):
    """Bucketed Gini == the trapezoid formula replayed in Python on
    the same buckets."""
    rng = random.Random(9)
    vals = [rng.randrange(1, 500) for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    width = 16
    r = gini_grouped(df, "v", width).collect()[0]
    from collections import defaultdict
    buckets = defaultdict(lambda: [0, 0])
    for v in vals:
        b = v // width
        buckets[b][0] += 1
        buckets[b][1] += v
    n, total, cum, num = len(vals), sum(vals), 0, 0
    for b in sorted(buckets):
        c, s = buckets[b]
        cum += s
        num += c * (2 * cum - s)
    assert (r["n"], r["total"], r["gini_num"]) == (n, total, num)
    assert r["gini"] == 1.0 - num / (n * total)


def test_pit_join_no_future_leakage(spark, duck):
    """Every matched status version must start at-or-before its
    purchase (the PIT guarantee), verified on the real sf0.01 data
    against the raw event log."""
    from cassandra_join_library_spark.registry import all_queries
    from .conftest import SF_ORACLE

    out = all_queries()["events_scd2_pit_join"](
        spark, SF_ORACLE).toPandas()
    ev = duck.execute(
        "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es "
        "FROM events").df().set_index("event_id")["es"]
    matched = out[out["matched_event_id"].notna()]
    assert len(matched) > 0
    rts = matched["matched_event_id"].astype("int64").map(ev)
    assert (rts <= matched["ts_epoch"]).all()
