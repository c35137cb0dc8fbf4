"""Dedup-domain tests: the prefix filter's same-answer guarantee and
funnel monotonicity, and Bloom-store generational rotation — the
no-false-negative guarantee must survive rotation for the surviving
generation, and rotation must actually forget the dropped one."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from cassandra_join_library_spark.operators.bloom import (
    bloom_pass_keys, bloom_words_table,
)
from cassandra_join_library_spark.sources.catalog import local_frame

from .conftest import SF_SMOKE as SF
_BITS, _K = 1 << 16, 5


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


def test_rotation_keeps_survivors_and_forgets_dropped(spark):
    gen_rows = [Row(gen=0, key=f"old-{i}") for i in range(40)] + \
               [Row(gen=1, key=f"new-{i}") for i in range(40)]
    gens = local_frame(spark, gen_rows, "gen bigint, key string")
    genwords = bloom_words_table(gens, "key", _BITS, _K,
                                 shard=F.col("gen"))
    full = genwords.groupBy("w").agg(F.bit_or("word").alias("word"))
    rot = genwords.filter(F.col("shard_id") == 1).select("w", "word")

    probes = local_frame(
        spark,
        [Row(key=f"old-{i}") for i in range(40)]
        + [Row(key=f"new-{i}") for i in range(40)]
        + [Row(key=f"absent-{i}") for i in range(40)],
        "key string")

    pass_full = {r["key"] for r in bloom_pass_keys(
        probes, "key", full, _BITS, _K).collect()}
    pass_rot = {r["key"] for r in bloom_pass_keys(
        probes, "key", rot, _BITS, _K).collect()}

    # no false negatives, before and after rotation, for what each
    # filter is supposed to know
    assert {f"old-{i}" for i in range(40)} <= pass_full
    assert {f"new-{i}" for i in range(40)} <= pass_full
    assert {f"new-{i}" for i in range(40)} <= pass_rot
    # rotation genuinely forgets gen0 (up to Bloom false positives:
    # at 40 keys in 2^16 bits / k=5 the fp rate is ~1e-9, so demand
    # a hard cut here)
    assert not ({f"old-{i}" for i in range(40)} & pass_rot)
    # and the merged filter equals bit_or of the generation tables:
    # probing full == probing (gen0 ∪ gen1) membership for known keys
    assert pass_rot <= pass_full
