"""Wave-18 unit tests: portable-HLL register math vs a pure-Python
reference, shard-merge identity, and the knn(k) curve vs brute
force."""

from __future__ import annotations

import hashlib
import math
import random

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.sketch import (
    HLL_M,
    hll_register_table,
    hll_registers,
)


def _h60_py(x) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)


def _hll_py(values):
    regs = {}
    for v in values:
        h = _h60_py(v)
        j = h % HLL_M
        w = h // HLL_M
        r = 55 if w == 0 else 55 - w.bit_length()
        regs[j] = max(regs.get(j, 0), r)
    s2 = sum(1 << (55 - m) for m in regs.values()) \
        + (HLL_M - len(regs)) * (1 << 55)
    est = (0.709 * HLL_M * HLL_M * (1 << 55)) / s2
    return len(regs), s2, est


def test_hll_matches_python_reference(spark):
    rng = random.Random(11)
    vals = [rng.randrange(10_000) for _ in range(3000)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, v bigint")
    row = hll_registers(df, "grp", "v").collect()[0]
    hit, s2, est = _hll_py(vals)
    assert row["n_buckets_hit"] == hit
    assert row["n_zero_registers"] == HLL_M - hit
    assert row["s2"] == s2
    assert row["est_raw"] == est
    # the raw estimator should be in the right ballpark (13% rel err;
    # allow 4 sigma) for a well-filled sketch
    n_true = len(set(vals))
    assert abs(row["est_raw"] - n_true) < 0.52 * n_true


def test_hll_register_merge_identity(spark):
    rng = random.Random(13)
    rows = [("g", rng.randrange(50_000)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "grp string, v bigint")
    full = {(r["grp"], r["j"]): r["m_j"] for r in
            hll_register_table(df, "grp", "v").collect()}
    h0 = hll_register_table(df.filter(F.col("v") % 2 == 0),
                            "grp", "v").collect()
    h1 = hll_register_table(df.filter(F.col("v") % 2 == 1),
                            "grp", "v").collect()
    merged = {}
    for r in list(h0) + list(h1):
        k = (r["grp"], r["j"])
        merged[k] = max(merged.get(k, 0), r["m_j"])
    assert merged == full


def test_knn_degree_curve_bruteforce(spark):
    import cassandra_join_library_spark.queries.graph as graph_q
    from cassandra_join_library_spark.queries.graph import (
        graph_knn_degree_curve,
    )

    rng = random.Random(17)
    edges = set()
    while len(edges) < 40:
        u, v = rng.randrange(15), rng.randrange(15)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    e_df = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
    orig = graph_q._copurchase_edges
    try:
        graph_q._copurchase_edges = lambda spark, sf_dir: e_df
        got = {r["degree"]: r for r in
               graph_knn_degree_curve(spark, "unused").collect()}
    finally:
        graph_q._copurchase_edges = orig
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    by_deg = {}
    for n, nb in adj.items():
        d = len(nb)
        snd = sum(len(adj[m]) for m in nb)
        by_deg.setdefault(d, []).append(snd)
    assert set(got) == set(by_deg)
    for d, snds in by_deg.items():
        r = got[d]
        assert r["n_nodes"] == len(snds)
        assert r["sum_neighbor_deg"] == sum(snds)
        num, den = 1_000_000 * sum(snds), d * len(snds)
        want = num // den + (1 if 2 * (num % den) >= den else 0)
        assert r["knn_micro"] == want
