"""Stats-domain tests: deterministic resampling — Poisson weight
distribution, CI sanity, and the randomization test replayed in
Python."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _h20(b: int, eid: int) -> int:
    return int(hashlib.md5(f"{b}_{eid}".encode()).hexdigest()[:15],
               16) % 1048576


def _pois_w(h: int) -> int:
    from cassandra_join_library_spark.queries.stats import _POIS_CUM

    for k, t in enumerate(_POIS_CUM):
        if h < t:
            return k
    return 6


def test_bootstrap_ci_brackets_observed_mean(spark):
    from cassandra_join_library_spark.queries.stats import (
        stats_bootstrap_ci,
    )

    rows = stats_bootstrap_ci(spark, SF).collect()
    assert rows
    for r in rows:
        # a ~94% band from 32 resamples straddles the point estimate
        assert r["boot_lo_cents"] <= r["mean_cents_obs"] \
            <= r["boot_hi_cents"], r
        assert r["boot_lo_cents"] < r["boot_hi_cents"], r


def test_bootstrap_weights_are_poisson_like(spark):
    # over many (b, id) draws the deterministic weights must average
    # ~1 (Poisson(1) mean) — the property that makes the resample an
    # unbiased with-replacement surrogate
    ws = [_pois_w(_h20(b, eid)) for b in range(8) for eid in range(500)]
    mean = sum(ws) / len(ws)
    assert 0.95 <= mean <= 1.05
    assert max(ws) <= 6 and min(ws) == 0


def test_randomization_test_matches_python_replay(spark):
    from cassandra_join_library_spark.queries.stats import (
        _B, stats_randomization_test,
    )

    row = stats_randomization_test(spark, SF).collect()[0]
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .filter(F.col("event_type").isin("purchase", "view"))
          .select("event_id", "event_type",
                  F.expr("CAST(CAST(round(value, 2) AS DECIMAL(18,2)) "
                         "* 100 AS BIGINT)").alias("cents"))
          .collect())

    def rdiv(a, n):
        return a // n + (1 if 2 * (a % n) >= n else 0)

    def mean(rows):
        s = sum(c for _, c in rows)
        return rdiv(s, len(rows))

    p = [(e["event_id"], e["cents"]) for e in ev
         if e["event_type"] == "purchase"]
    v = [(e["event_id"], e["cents"]) for e in ev
         if e["event_type"] == "view"]
    d_obs = mean(p) - mean(v)
    assert row["obs_diff_cents"] == d_obs
    n_ext = 0
    allrows = p + v
    for b in range(_B):
        g0 = [(i, c) for i, c in allrows if _h20(b, i) % 2 == 0]
        g1 = [(i, c) for i, c in allrows if _h20(b, i) % 2 == 1]
        d_b = mean(g0) - mean(g1)
        if abs(d_b) >= abs(d_obs):
            n_ext += 1
    assert row["n_extreme"] == n_ext
    assert row["p_ppm"] == rdiv(1_000_000 * n_ext, _B)
