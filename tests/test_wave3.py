"""Invariant tests for the round-5 third-wave operators (the oracle
parity gate checks exact values; these pin the semantic contracts a
hash compare can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .background import heavy_check
from .conftest import SF_ORACLE


def _gram_rows():
    return [
        ([0.5, -1.25, 2.0],),
        ([1.0, 0.0, -0.5],),
        (None,),                 # skipped (twin: WHERE vec IS NOT NULL)
        ([-0.1, 0.2, 0.3],),
    ]


@heavy_check("wave3_gram_payload")
def _gram_payload(spark):
    from cassandra_join_library_spark.operators.linalg import gram_matrix

    rows = _gram_rows()
    df = spark.createDataFrame(rows, "embedding array<double>")
    got = {(r["i"], r["j"]): r["gram"]
           for r in gram_matrix(df, "embedding", dim=3).collect()}
    rep = {(r["i"], r["j"]): r["gram"]
           for r in gram_matrix(df.repartition(7), "embedding", dim=3)
           .collect()}

    def err_of(extra):
        bad = spark.createDataFrame(rows + [extra],
                                    "embedding array<double>")
        try:
            gram_matrix(bad, "embedding", dim=3).collect()
        except Exception as exc:  # noqa: BLE001 - payload IS the error
            return f"{type(exc).__name__}: {exc}"
        return None

    return got, rep, err_of(([1.0, 2.0],)), err_of(([float("nan"), 0.0, 1.0],))


@heavy_check("wave3_pagerank_star")
def _pagerank_star(spark):
    from cassandra_join_library_spark.operators.graph import (
        pagerank_fixed_point,
    )

    nodes = spark.createDataFrame(
        [("n", 0), ("n", 1), ("n", 2), ("n", 3), ("n", 9)],
        "nt string, id long",
    )  # 0 = hub, 1-3 leaves, 9 isolated
    sym = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        [("n", a, "n", b) for a, b in sym]
        + [("n", b, "n", a) for a, b in sym],
        "src_t string, src long, dst_t string, dst long",
    )
    return {row["id"]: row["rank_micro"]
            for row in pagerank_fixed_point(nodes, edges).collect()}


def test_quantize_int8_error_bounded_by_half_step(spark):
    """Affine rounding error is ≤ step/2 (+ 6dp rounding slack) on
    every dimension of every vector."""
    from cassandra_join_library_spark.operators.similarity import (
        quantize_int8,
    )
    from cassandra_join_library_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    el = emb.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "val")
    ).withColumn("v6", F.round("val", 6))
    rng = (
        el.groupBy("pos")
        .agg(((F.max("v6") - F.min("v6")) / 255.0).alias("step"))
        .agg(F.max("step").alias("max_step"))
        .collect()[0]
    )
    out = quantize_int8(emb)
    worst = out.agg(F.max("max_abs_err").alias("m")).collect()[0]["m"]
    assert worst <= rng["max_step"] / 2 + 1e-6


def test_quantize_int8_covers_every_vector(spark):
    from cassandra_join_library_spark.operators.similarity import (
        quantize_int8,
    )
    from cassandra_join_library_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    out = quantize_int8(emb)
    assert out.count() == emb.count()
    assert out.filter(F.col("n_dims") != 64).count() == 0


def test_dim_stats_bounds(spark):
    """min ≤ mean ≤ max and std ≥ 0 for every dimension."""
    from cassandra_join_library_spark.operators.similarity import dim_stats
    from cassandra_join_library_spark.sources.catalog import load_table

    out = dim_stats(load_table(spark, SF_ORACLE, "embeddings"))
    bad = out.filter(
        (F.col("mean_val") < F.col("min_val"))
        | (F.col("mean_val") > F.col("max_val"))
        | (F.col("std_val") < 0)
    )
    assert out.count() == 64
    assert bad.count() == 0


def test_tf_cosine_bounds_and_symmetric_ids(spark):
    """Scores in (0, 1 + eps]; pair ids strictly ordered."""
    from cassandra_join_library_spark.operators.dedup import tf_cosine_pairs
    from cassandra_join_library_spark.sources.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = tf_cosine_pairs(docs, "doc_id", "text", threshold=0.5,
                          max_doc_freq=20)
    rows = out.collect()
    assert rows, "expected near-dup pairs in the oracle corpus"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.5 <= r["cosine_tf"] <= 1.000001


def test_tf_cosine_exact_duplicates_score_one(spark):
    """Two identical texts must score exactly 1.0."""
    from cassandra_join_library_spark.operators.dedup import tf_cosine_pairs
    from cassandra_join_library_spark.sources.catalog import local_frame

    df = local_frame(
        spark,
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        "doc_id bigint, text string",
    )
    out = {(r["doc_a"], r["doc_b"]): r["cosine_tf"]
           for r in tf_cosine_pairs(df, "doc_id", "text",
                                    threshold=0.1).collect()}
    assert out == {(1, 2): 1.0}


def test_first_touch_window_contract(spark):
    """Attributed conversions have 0 ≤ latency ≤ 7 days; the touch
    really is the user's EARLIEST click in the window."""
    from cassandra_join_library_spark.operators.timeseries import (
        first_touch_attribution,
    )
    from cassandra_join_library_spark.sources.catalog import load_events

    out = first_touch_attribution(load_events(spark, SF_ORACLE))
    bad = out.filter(
        F.col("attributed")
        & ((F.col("latency_sec") < 0) | (F.col("latency_sec") > 604800))
    )
    assert bad.count() == 0
    n_attr = out.filter("attributed").count()
    assert 0 < n_attr <= out.count()


def test_first_touch_prefers_earliest_click(spark):
    from cassandra_join_library_spark.operators.timeseries import (
        first_touch_attribution,
    )
    from cassandra_join_library_spark.sources.catalog import local_frame

    ev = local_frame(
        spark,
        [
            (1, "2024-01-01 00:00:00", 7, "click", 0.0, ""),
            (2, "2024-01-02 00:00:00", 7, "click", 0.0, ""),
            (3, "2024-01-03 00:00:00", 7, "purchase", 1.0, ""),
            # outside the 7d lookback:
            (4, "2024-02-01 00:00:00", 8, "click", 0.0, ""),
            (5, "2024-03-01 00:00:00", 8, "purchase", 1.0, ""),
        ],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {r["event_id"]: r
            for r in first_touch_attribution(ev).collect()}
    assert rows[3]["latency_sec"] == 2 * 86400  # earliest, not latest
    assert rows[5]["attributed"] is False


def test_mad_outliers_robust_to_extremes(spark):
    """A single huge value is flagged and does not drag the median."""
    from cassandra_join_library_spark.operators.profiling import mad_outliers
    from cassandra_join_library_spark.sources.catalog import local_frame

    vals = [(i, "g", float(i % 7)) for i in range(100)] + [(999, "g", 1e6)]
    df = local_frame(spark, vals, "id bigint, grp string, v double")
    out = mad_outliers(df, "id", "grp", "v").collect()
    assert any(r["id"] == 999 for r in out)
    assert all(abs(r["robust_z"]) > 3.5 for r in out)


def test_vocabulary_oov_rates_well_formed(spark):
    from cassandra_join_library_spark.operators.corpus import vocabulary_oov
    from cassandra_join_library_spark.sources.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = vocabulary_oov(docs, "doc_id", "text")
    assert out.count() == docs.count()
    bad = out.filter(
        (F.col("oov_rate") < 0) | (F.col("oov_rate") > 1)
        | (F.col("n_oov") > F.col("n_tokens"))
    )
    assert bad.count() == 0
    # the band must actually split the vocabulary on this corpus:
    # some docs fully covered, OOV mass strictly positive overall
    assert out.agg(F.sum("n_oov")).collect()[0][0] > 0


def test_mad_outliers_skips_zero_mad_groups(spark):
    """Majority-on-median groups (MAD = 0) carry no robust scale — no
    Infinity/NaN rows may escape."""
    import math

    from cassandra_join_library_spark.operators.profiling import mad_outliers
    from cassandra_join_library_spark.sources.catalog import local_frame

    df = local_frame(
        spark,
        [(1, "g", 5.0), (2, "g", 5.0), (3, "g", 5.0), (4, "g", 100.0),
         (5, "h", 1.0), (6, "h", 2.0), (7, "h", 3.0), (8, "h", 50.0)],
        "id bigint, grp string, v double",
    )
    out = mad_outliers(df, "id", "grp", "v").collect()
    assert all(r["grp"] != "g" for r in out)  # degenerate group skipped
    assert all(math.isfinite(r["robust_z"]) for r in out)
    assert any(r["id"] == 8 for r in out)  # healthy group still flags


def test_dim_stats_constant_dimension_std_zero(spark):
    """A constant dimension must report std 0.0, never NaN from a
    negative double rounding."""
    from cassandra_join_library_spark.operators.similarity import dim_stats
    from cassandra_join_library_spark.sources.catalog import local_frame

    df = local_frame(
        spark,
        [(1, [0.1, 7.0]), (2, [0.1, 9.0]), (3, [0.1, 11.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r["pos"]: r for r in dim_stats(df).collect()}
    assert rows[0]["std_val"] == 0.0
    assert rows[1]["std_val"] > 0


def test_sampled_percentiles_rejects_colliding_names():
    import pytest

    from cassandra_join_library_spark.operators.sketch import (
        sampled_percentiles,
    )

    with pytest.raises(ValueError, match="collide"):
        sampled_percentiles(None, "g", "v", "id",
                            percentiles=(0.001, 0.002))


def test_first_touch_matches_bruteforce_on_random_events(spark):
    """Cross-check the RANGE-window implementation against a pure-
    Python brute force on a seeded random event set."""
    import random

    from cassandra_join_library_spark.operators.timeseries import (
        first_touch_attribution,
    )
    from cassandra_join_library_spark.sources.catalog import local_frame

    rng = random.Random(42)
    base = 1_700_000_000
    rows = []
    for eid in range(300):
        user = rng.randrange(12)
        ts = base + rng.randrange(30 * 86400)
        etype = rng.choice(["click", "purchase", "view"])
        rows.append((eid, user, etype, ts))
    # brute force: earliest click in [t-7d, t] per purchase (RANGE
    # frame includes same-timestamp peers regardless of event order)
    expected = {}
    for eid, user, etype, ts in rows:
        if etype != "purchase":
            continue
        clicks = [t for (e2, u2, ty2, t) in rows
                  if u2 == user and ty2 == "click"
                  and ts - 604800 <= t <= ts]
        expected[eid] = min(clicks) if clicks else None
    ev = local_frame(
        spark,
        [(eid, u, ty, t) for (eid, u, ty, t) in rows],
        "event_id bigint, user_id bigint, event_type string, ep bigint",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_seconds(ep) AS ts", "0.0 AS value")
    got = {r["event_id"]: r["first_touch_epoch"]
           for r in first_touch_attribution(ev).collect()}
    assert got == expected


def test_tf_cosine_matches_bruteforce_on_random_docs(spark):
    """Cross-check the inverted-index TF cosine against a dict-based
    brute force over random word-salad documents."""
    import math
    import random
    from collections import Counter
    from itertools import combinations

    from cassandra_join_library_spark.operators.dedup import tf_cosine_pairs
    from cassandra_join_library_spark.sources.catalog import local_frame

    rng = random.Random(7)
    vocab = ["w%d" % i for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 30))))
            for i in range(25)]

    def grams(text, n=3):
        w = text.split(" ")
        return Counter(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))

    expected = {}
    tfs = {i: grams(t) for i, t in docs}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        a, b = tfs[ia], tfs[ib]
        dot = sum(a[g] * b[g] for g in a.keys() & b.keys())
        if not dot:
            continue
        cos = dot / (math.sqrt(sum(v * v for v in a.values()))
                     * math.sqrt(sum(v * v for v in b.values())))
        if cos >= 0.3:
            expected[(ia, ib)] = round(cos, 6)
    df = local_frame(spark, docs, "doc_id bigint, text string")
    got = {(r["doc_a"], r["doc_b"]): r["cosine_tf"]
           for r in tf_cosine_pairs(df, "doc_id", "text",
                                    threshold=0.3).collect()}
    assert got == expected


def test_gram_matrix_matches_numpy_and_rejects_bad_vectors(heavy_results):
    """Exact parity with a brute-force numpy gram; NULL vectors are
    excluded (mirroring the SQL twin's IS NOT NULL), partitioning must
    not change a single bit (decimal reduce) — and a ragged or
    non-finite vector must RAISE rather than silently diverge from
    the twin (advisor finding, r06)."""
    import numpy as np

    from cassandra_join_library_spark.operators.linalg import SCALE

    got, rep, ragged_err, nonfinite_err = heavy_results(
        "wave3_gram_payload")
    rows = _gram_rows()
    x = np.array([rows[0][0], rows[1][0], rows[3][0]])
    xi = (np.sign(x) * np.floor(np.abs(x) * SCALE + 0.5)).astype(np.int64)
    m = xi.T @ xi
    want = {(i, j): float(m[i, j]) for i in range(3) for j in range(3)
            if j >= i}
    assert got == want
    assert rep == got
    # error string carries "<ExceptionType>: <msg>" — pin BOTH the
    # runtime-failure type and the message, like the original
    # pytest.raises(PythonException, match=...) did
    assert ragged_err and ragged_err.startswith("PythonException")
    assert "ragged input" in ragged_err
    assert nonfinite_err and nonfinite_err.startswith("PythonException")
    assert "NaN/Inf" in nonfinite_err


def test_pagerank_fixed_point_star_graph(heavy_results):
    """Hand-checkable star: hub h <-> leaves a,b,c (symmetric edges),
    isolated node z.  The hub must outrank leaves, leaves tie exactly
    (integer determinism), and the isolated node holds exactly the
    teleport base after every iteration."""
    from cassandra_join_library_spark.operators.graph import INIT_MICRO

    r = heavy_results("wave3_pagerank_star")

    base = (INIT_MICRO * 15) // 100
    assert r[9] == base                      # isolated: teleport only
    assert r[1] == r[2] == r[3]              # exact leaf symmetry
    assert r[0] > r[1]                       # hub dominates
    # mass sanity: nothing exceeds total injected mass
    assert sum(r.values()) <= 5 * INIT_MICRO
