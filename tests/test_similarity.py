"""Similarity-operator quality tests: approximate methods must hit
recall floors against the exact baseline (correctness of the *shape*
is covered by the oracle suite; these check the approximation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators import similarity as S
from cassandra_join_library_spark.operators.similarity import (
    hamming_topk, sign_signatures,
)
from cassandra_join_library_spark.sources.catalog import local_frame

from .background import heavy_check
from .conftest import SF_ORACLE


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


# ---- background heavy checks: the three slowest recall sweeps
# (~16 s combined) are deterministic — precompute the pair/row sets
# on the sweep pool; the tests join and check the floors.

@heavy_check("sim_ivf_kmeans_sets")
def _ivf_kmeans_sets(spark):
    from cassandra_join_library_spark.operators.corpus import kmeans_fit

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk_bruteforce(emb, queries, k=5)
    _, centroids = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iter=3)
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cent_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    approx = S.ivf_topk(emb, queries, k=5, nprobe=3, centroids_df=cent_df)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    return e, a


@heavy_check("sim_lsh_vs_exact_sets")
def _lsh_vs_exact_sets(spark):
    emb = _emb(spark)
    lsh = S.lsh_cosine_pairs(emb, threshold=0.4, n_planes=6, n_tables=8)
    exact = S.cosine_pairs(emb, threshold=0.4)
    l = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    return l, e


@heavy_check("sim_pq_rows")
def _pq_rows(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk_bruteforce(emb, queries, k=5).collect()
    rows = S.pq_topk(emb, queries, k=5, m=8, ks=16,
                     centroid_stride=7, refine=4).collect()
    return exact, rows


def test_ivf_recall_floor(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk_bruteforce(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, k=5, centroid_stride=32, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # near-orthogonal random vectors are the worst case for IVF;
    # still demand a floor well above random (5/2000 per pick)
    assert recall >= 0.2, f"IVF recall {recall:.2f}"


def test_ivf_kmeans_centroids_recall_floor(heavy_results):
    """Trained (k-means) centroids through the centroids_df path must
    give recall at least on par with the stride default — the learned
    lists should partition the space no worse than arbitrary vectors."""
    e, a = heavy_results("sim_ivf_kmeans_sets")
    recall = len(e & a) / len(e)
    assert recall >= 0.2, f"kmeans-IVF recall {recall:.2f}"


def test_lsh_pairs_subset_of_exact(heavy_results):
    l, e = heavy_results("sim_lsh_vs_exact_sets")
    assert l <= e  # verification guarantees no false positives
    # cos 0.4 (θ≈66°) is the worst regime for hyperplane LSH — the
    # synthetic vectors have no true near-dups; measured recall ≈ 0.48
    # with these params, floor set below with slack.  At production
    # thresholds (cos ≥ 0.85) the same params give recall > 0.99.
    if e:
        assert len(l) / len(e) >= 0.3, f"LSH recall {len(l)/len(e):.2f}"


def test_brute_force_topk_is_total_ordered(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.cosine_topk_bruteforce(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_pq_recall_floor(heavy_results):
    """PQ with ADC + 4x re-rank must beat random by a wide margin on
    the worst-case (near-orthogonal) synthetic vectors, and every
    returned cosine must equal the exact score (re-rank is exact)."""
    exact, rows = heavy_results("sim_pq_rows")
    e = {(r["query_id"], r["neighbor_id"]) for r in exact}
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.2, f"PQ recall {recall:.2f}"
    # scores on returned pairs are exact (match brute force where shared)
    es = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"]
          for r in exact}
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in es:
            assert abs(r["cosine_sim"] - es[key]) < 1e-9


def test_pq_requires_enough_training_vectors(spark):
    import pytest

    emb = _emb(spark).filter(F.col("vec_id") < 30)
    with pytest.raises(ValueError, match="training vectors"):
        S.pq_topk(emb, emb.limit(2), ks=64, centroid_stride=7)


# ---- sign-signature packing on hand vectors, null handling,
# non-multiple-of-32 dims, and self-exclusion

def test_sign_signatures_pack_known_bits(spark):
    rows = [
        (1, [1.0, -1.0, 0.0, 2.0]),   # bits 0 and 3 -> 0b1001 = 9
        (2, [-1.0] * 4),              # no bits -> 0
        (3, None),                    # dropped
    ]
    df = local_frame(spark, rows, "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: r["sig_0"]
           for r in sign_signatures(df, dim=4).collect()}
    assert got == {1: 9, 2: 0}


def test_sign_signatures_span_word_boundary(spark):
    # dim 40: bit 39 lands in word 1 bit 7 (value 128), bit 0 in word 0
    vec = [0.0] * 40
    vec[0] = 1.0
    vec[39] = 1.0
    df = local_frame(spark, [(1, vec)],
                     "vec_id bigint, embedding array<double>")
    r = sign_signatures(df, dim=40).collect()[0]
    assert (r["sig_0"], r["sig_1"]) == (1, 128)


def test_hamming_topk_hand_checkable(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),    # query
        (1, [1.0, 1.0, 1.0, -1.0]),   # hamming 1
        (2, [1.0, 1.0, -1.0, -1.0]),  # hamming 2
        (3, [-1.0] * 4),              # hamming 4
        (4, [1.0, 1.0, 1.0, -1.0]),   # hamming 1 (tie with 1 -> after)
    ]
    df = local_frame(spark, rows, "vec_id bigint, embedding array<double>")
    q = df.filter("vec_id = 0")
    got = [(r["neighbor_id"], r["hamming"], r["rank"])
           for r in hamming_topk(df, q, k=3, dim=4)
           .orderBy("rank").collect()]
    # self excluded; ties break on neighbor_id ascending
    assert got == [(1, 1, 1), (4, 1, 2), (2, 2, 3)]
