"""Accuracy + determinism tests for the portable sketches (parity is
covered by the oracle gate; these bound estimation error vs exact),
and the log-bin edges: bit-length packing, rank bracketing, and the
guarantee that the bracketed bound always contains the true value."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.sketch import (
    kmv_distinct,
    logbin_quantiles,
    logbin_table,
    sampled_percentiles,
)
from cassandra_join_library_spark.sources.catalog import (
    load_events,
    load_table,
    local_frame,
)

from .conftest import SF_ORACLE


def test_kmv_within_rsd_of_exact(spark):
    """k=256 → ~6% relative error; assert within 3σ (20%)."""
    l = load_table(spark, SF_ORACLE, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    est = {
        r["l_returnflag"]: r["approx_distinct"]
        for r in kmv_distinct(l, "l_returnflag", "l_partkey", k=256).collect()
    }
    assert est.keys() == exact.keys()
    for flag, n in exact.items():
        assert abs(est[flag] - n) / n < 0.20, (flag, est[flag], n)


def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct values report the exact count."""
    l = load_table(spark, SF_ORACLE, "lineitem")
    out = kmv_distinct(l, "l_returnflag", "l_partkey", k=100_000).collect()
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    for r in out:
        assert r["approx_distinct"] == float(exact[r["l_returnflag"]])


def test_kmv_stable_under_repartition(spark):
    l = load_table(spark, SF_ORACLE, "lineitem")
    a = sorted(map(tuple, kmv_distinct(l, "l_returnflag", "l_partkey").collect()))
    b = sorted(map(tuple, kmv_distinct(
        l.repartition(17), "l_returnflag", "l_partkey").collect()))
    assert a == b


def test_sampled_percentiles_close_to_exact(spark):
    ev = load_events(spark, SF_ORACLE).select(
        "event_id", "event_type", "value"
    )
    exact = {
        r["event_type"]: r["p50"]
        for r in ev.groupBy("event_type")
        .agg(F.percentile(F.col("value"), F.lit(0.5)).alias("p50"))
        .collect()
    }
    approx = {
        r["event_type"]: r
        for r in sampled_percentiles(
            ev, "event_type", "value", "event_id"
        ).collect()
    }
    spread = ev.agg(
        (F.max("value") - F.min("value")).alias("s")
    ).collect()[0]["s"]
    assert approx.keys() == exact.keys()
    for t, p50 in exact.items():
        # 1/8 sample of ~400 rows/group: generous bound, scale-free
        assert abs(approx[t]["p50"] - p50) <= 0.15 * spread, (t, approx[t]["p50"], p50)
        assert approx[t]["n_sampled"] > 0
        assert approx[t]["p50"] <= approx[t]["p90"] <= approx[t]["p99"]


def test_logbin_table_bit_lengths(spark):
    df = local_frame(spark, [(1,), (2,), (3,), (4,), (255,), (256,)],
                     "v bigint")
    got = {r["bin"]: r["cnt"] for r in logbin_table(df, "v").collect()}
    # 1 -> bin 1; 2,3 -> bin 2; 4 -> bin 3; 255 -> bin 8; 256 -> bin 9
    assert got == {1: 1, 2: 2, 3: 1, 8: 1, 9: 1}


def test_logbin_quantiles_bracket_truth(spark):
    import random

    rng = random.Random(5)
    vals = [rng.randint(1, 10_000_000) for _ in range(500)]
    df = local_frame(spark, [(v,) for v in vals], "v bigint")
    qs = {r["q_pct"]: r for r in logbin_quantiles(
        logbin_table(df, "v"), [50, 90, 99]).collect()}
    svals = sorted(vals)
    for q in (50, 90, 99):
        r = qs[q]
        assert r["n"] == 500
        truth = svals[r["target_rank"] - 1]  # rank is 1-based
        assert r["bin_lo"] <= truth <= r["bin_hi"], (q, truth, dict(r.asDict()))
        assert r["bin_hi"] == 2 * r["bin_lo"] - 1  # one power of two wide


def test_logbin_top_bin_no_overflow(spark):
    # bin 63 (values >= 2^62, up to BIGINT max): the naive
    # shiftleft(1L, 63) - 1 read-out wraps to Long.MIN_VALUE and
    # throws ARITHMETIC_OVERFLOW under ANSI mode (ADVICE r11); the
    # special-cased top bin must report [2^62, Long.MAX] and still
    # bracket the true value
    top = 9223372036854775807  # 2^63 - 1
    df = local_frame(spark, [(1,), (2**62,), (top,)], "v bigint")
    rows = {r["q_pct"]: r for r in logbin_quantiles(
        logbin_table(df, "v"), [99]).collect()}
    r = rows[99]
    assert r["bin"] == 63
    assert r["bin_lo"] == 2**62
    assert r["bin_hi"] == top
    assert r["bin_lo"] <= top <= r["bin_hi"]


def test_logbin_quantile_exact_on_single_bin(spark):
    # all values in one bin: every quantile lands there
    df = local_frame(spark, [(9,), (10,), (12,), (15,)], "v bigint")
    qs = {r["q_pct"]: r["bin"] for r in logbin_quantiles(
        logbin_table(df, "v"), [50, 99]).collect()}
    assert qs == {50: 4, 99: 4}


def test_logbin_quantiles_grouped_bracket_property(spark):
    """Grouped read-out: per group, the exact rank-ceil quantile must
    lie inside the reported [bin_lo, bin_hi] bracket, and group totals
    must match — the same contract logbin_quantiles carries, keyed."""
    import math
    import random

    from pyspark.sql import Row
    from cassandra_join_library_spark.operators.sketch import (
        logbin_quantiles_grouped, logbin_table,
    )
    from cassandra_join_library_spark.sources.catalog import local_frame
    import pyspark.sql.functions as F

    rng = random.Random(13)
    data = {"a": [rng.randint(1, 10**9) for _ in range(137)],
            "b": [rng.randint(1, 10**4) for _ in range(53)]}
    rows = [Row(grp=g, v=v) for g, vals in data.items() for v in vals]
    df = local_frame(spark, rows, "grp string, v bigint")
    bins = logbin_table(df, "v", shard=F.col("grp"))
    out = {(r["shard_id"], r["q_pct"]): r
           for r in logbin_quantiles_grouped(bins, [25, 50, 99]).collect()}
    for g, vals in data.items():
        vals = sorted(vals)
        n = len(vals)
        for q in (25, 50, 99):
            r = out[(g, q)]
            assert r["n"] == n
            exact = vals[max(1, math.ceil(q * n / 100)) - 1]
            assert r["bin_lo"] <= exact <= r["bin_hi"], (g, q, r, exact)
