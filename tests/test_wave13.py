"""Wave-13 operator unit tests: delta-join IVM equivalence,
nearest-value top-k exactness vs brute force, and portable-LSH
candidate soundness."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.ivm import join_view_delta
from cassandra_join_library_spark.operators.stats import (
    nearest_value_topk,
)

from .background import heavy_check


@heavy_check("wave13_join_view_delta_sets")
def _join_view_delta_sets(spark):
    rng = random.Random(3)
    a = [(i, rng.randrange(5)) for i in range(40)]
    b = [(j, rng.randrange(40), rng.randrange(100)) for j in range(120)]
    a_df = spark.createDataFrame(a, "ck bigint, attr bigint")
    b_df = spark.createDataFrame(b, "oid bigint, ck bigint, val bigint")
    a0 = a_df.filter(F.col("ck") % 7 != 0)
    da = a_df.filter(F.col("ck") % 7 == 0)
    b0 = b_df.filter(F.col("oid") < 90)
    db = b_df.filter(F.col("oid") >= 90)
    refreshed = (
        a0.join(b0, ["ck"])
        .unionByName(join_view_delta(a0, da, b0, db, ["ck"]))
    )
    full = a_df.join(b_df, ["ck"])
    got = sorted(map(tuple, refreshed.collect()))
    want = sorted(map(tuple, full.collect()))
    return got, want


def test_join_view_delta_equals_full_join(heavy_results):
    """Base ∪ deltas joined via the three-term expansion must equal
    the monolithic join of the full sides."""
    got, want = heavy_results("wave13_join_view_delta_sets")
    assert got == want and len(want) > 0


def test_nearest_value_topk_matches_bruteforce(spark):
    """The sorted-neighborhood result must equal the quadratic scan
    (same distance-then-value-then-id tie rule)."""
    rng = random.Random(9)
    rows = [(chr(103 + i % 2), i, rng.randrange(0, 40))
            for i in range(30)]
    df = spark.createDataFrame(rows, "g string, id bigint, v bigint")
    out = nearest_value_topk(df, "g", "id", "v", k=3).collect()
    got = {(r["grp"], r["id"]): [] for r in out}
    for r in sorted(out, key=lambda r: (r["grp"], r["id"], r["rk"])):
        got[(r["grp"], r["id"])].append(
            (r["dist"], r["neighbor_value"], r["neighbor_id"]))
    for (g, i, v) in rows:
        cands = sorted(
            (abs(v - v2), v2, i2) for (g2, i2, v2) in rows
            if g2 == g and i2 != i)
        assert got[(g, i)] == cands[:3], (g, i)


def test_portable_lsh_candidates_are_sound_and_catch_exact_dups(spark):
    """Identical texts share every band (always candidates); the
    audit invariant n_verified <= min(n_cand, n_exact) holds."""
    from cassandra_join_library_spark.operators.dedup import (
        jaccard_pairs_exact, minhash_lsh_pairs,
    )
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, words), (2, words),
         (3, "one two three four five six seven eight nine ten")],
        "doc_id bigint, text string")
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, num_hashes=8, rows_per_band=2,
        portable=True, verify=False)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs_exact(
        docs, "doc_id", "text", n=5, threshold=0.5).collect()}
    assert (1, 2) in exact
    assert len(pairs & exact) <= min(len(pairs), len(exact))
