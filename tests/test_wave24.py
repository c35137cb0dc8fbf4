"""Wave-24 unit tests: the prefix filter's same-answer guarantee and
funnel monotonicity."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_prefix_filter_equals_posting_join(spark):
    """The whole point: two physical strategies, one answer."""
    from cassandra_join_library_spark.operators.dedup import (
        jaccard_pairs_exact, prefix_filter_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in jaccard_pairs_exact(
                 docs, "doc_id", "text", n=5, threshold=0.5).collect()}
    pf = {(r["doc_a"], r["doc_b"], r["jaccard"])
          for r in prefix_filter_jaccard_pairs(
              docs, "doc_id", "text", n=5, threshold=0.5).collect()}
    assert pf == exact
    assert exact  # the corpus has near-dup pairs by construction


def test_funnel_is_monotone_and_prunes(spark):
    from cassandra_join_library_spark.queries.dedup import (
        dedup_prefix_filter_funnel,
    )

    r = dedup_prefix_filter_funnel(spark, SF).collect()[0]
    # verified <= prefix candidates <= posting candidates
    assert r["n_verified"] <= r["n_prefix"] <= r["n_posting"]
    # prefix filtering must actually remove candidates on this corpus
    assert r["n_prefix"] < r["n_posting"]
    assert 0 < r["pruned_ppm"] < 1_000_000
