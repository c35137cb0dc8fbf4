"""Edge cases surfaced by code review: short documents through every
text operator, unconverged clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from cassandra_join_library_spark.operators import profiling as P
from cassandra_join_library_spark.operators.dedup import (
    duplicate_clusters, jaccard_pairs_exact, minhash_lsh_pairs,
)
from cassandra_join_library_spark.sources.catalog import local_frame

from .background import heavy_check
from .conftest import SF_ORACLE


@heavy_check("dedup_edges_minhash_r2_sets")
def _minhash_r2_sets(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs_exact(
        docs, "doc_id", "text").collect()}
    banded = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=24, rows_per_band=2).collect()}
    return exact, banded


def test_short_docs_through_repetition_and_bigrams(spark):
    df = local_frame(spark, [
        Row(doc_id=1, text="single"),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text="two words"),
        Row(doc_id=4, text="a a a a"),
    ])
    out = {r["doc_id"]: r for r in
           P.repetition_scores(df, "doc_id", "text").collect()}
    # docs with <2 tokens have no bigrams but MUST still appear (left
    # join) with a NULL dup_bigram_ratio — a profiling operator never
    # silently drops rows; no crash under ANSI
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["dup_bigram_ratio"] is None
    assert out[2]["dup_bigram_ratio"] is None
    assert out[1]["top_word_ratio"] == 1.0
    assert out[4]["dup_bigram_ratio"] == 1.0


def test_minhash_r2_subset_of_exact_with_recall_floor(heavy_results):
    """The r=2 banding knob (the sparse-bucket setting a 100 TB run
    uses): output must be a strict subset of the exact Jaccard pairs
    (every candidate is exact-verified) with candidate recall near the
    1-(1-j²)¹² analytic bound — well above 0.8 at j >= 0.5."""
    exact, banded = heavy_results("dedup_edges_minhash_r2_sets")
    assert banded <= exact
    if exact:
        recall = len(banded) / len(exact)
        assert recall >= 0.8, f"r=2 recall {recall:.2f}"


def _uf_edges(seed):
    """Deterministic seeded random edge set (same draws in the sweep
    and the in-test union-find reference)."""
    import random

    rng = random.Random(seed)
    nodes = list(range(rng.randint(20, 60)))
    edges = {
        tuple(sorted(rng.sample(nodes, 2)))
        for _ in range(rng.randint(10, 70))
    }
    # long chain to stress the jump path
    chain = list(range(100, 100 + rng.randint(10, 25)))
    edges |= {(a, a + 1) for a in chain[:-1]}
    return sorted(edges)


_UF_SEEDS = (7, 99, 2026)


@heavy_check("dedup_edges_cluster_got")
def _cluster_got(spark):
    out = {}
    for seed in _UF_SEEDS:
        pairs = local_frame(
            spark, [Row(doc_a=a, doc_b=b) for a, b in _uf_edges(seed)])
        out[seed] = {r["doc_id"]: r["cluster_id"]
                     for r in duplicate_clusters(pairs).collect()}
    return out


def test_clustering_matches_union_find_on_random_graphs(heavy_results):
    """Pointer-jump armor: on seeded random graphs (mixed chains,
    cliques, isolated edges) the distributed components must equal a
    driver-side union-find's, exactly."""

    def union_find_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    all_got = heavy_results("dedup_edges_cluster_got")
    for seed in _UF_SEEDS:
        want = union_find_components(_uf_edges(seed))
        assert all_got[seed] == want, f"seed={seed}"


@heavy_check("dedup_edges_unconverged_payload")
def _unconverged_payload(spark):
    # chain of diameter 5 with max_iterations=2 must refuse, not return
    # silently split clusters
    pairs = local_frame(spark,
        [Row(doc_a=i, doc_b=i + 1) for i in range(6)]
    )
    try:
        duplicate_clusters(pairs, max_iterations=2)
        err = None
    except Exception as exc:  # noqa: BLE001 - payload IS the error
        err = f"{type(exc).__name__}: {exc}"
    ok = duplicate_clusters(pairs, max_iterations=10)
    return err, {r["cluster_id"] for r in ok.collect()}


def test_unconverged_clustering_raises(heavy_results):
    err, clusters = heavy_results("dedup_edges_unconverged_payload")
    assert err is not None and err.startswith("RuntimeError")
    assert "did not converge" in err
    assert clusters == {0}


def test_duplicate_passages_maximal_runs(spark):
    """Hand-built corpus: docs 1 and 2 share one 4-word passage
    exactly; with k=3 that is a maximal run of 2 grams.  A doc too
    short for any gram yields nothing; the shared passage is reported
    once with exact positions, not split or extended."""
    from cassandra_join_library_spark.operators.dedup import duplicate_passages

    docs = local_frame(spark, [
        Row(doc_id=1, text="a b SHARED1 SHARED2 SHARED3 SHARED4 x y"),
        Row(doc_id=2, text="q SHARED1 SHARED2 SHARED3 SHARED4 r s t"),
        Row(doc_id=3, text="zz"),  # shorter than k -> no grams
    ])
    out = duplicate_passages(docs, "doc_id", "text", k=3, min_run=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"]) == (2, 1)
    assert r["n_grams"] == 2 and r["span_words"] == 4


def test_duplicate_passages_stop_gram_cap(spark):
    """max_gram_freq drops grams shared by too many docs: a gram in
    all three docs is pruned at cap=2, killing the single-gram runs it
    would create (min_run=1 so they would otherwise surface)."""
    from cassandra_join_library_spark.operators.dedup import duplicate_passages

    docs = local_frame(spark, [
        Row(doc_id=1, text="HOT1 HOT2 HOT3 a b"),
        Row(doc_id=2, text="c HOT1 HOT2 HOT3 d"),
        Row(doc_id=3, text="e f HOT1 HOT2 HOT3"),
    ])
    uncapped = duplicate_passages(docs, "doc_id", "text", k=3, min_run=1)
    assert uncapped.count() == 3  # all three pairs share the hot gram
    capped = duplicate_passages(
        docs, "doc_id", "text", k=3, min_run=1, max_gram_freq=2
    )
    assert capped.count() == 0
