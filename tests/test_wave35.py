"""Wave-35 operator edges: benchmark-contamination screening through
the benchmark's persisted Bloom store — the exact-answer theorem
(Bloom on == Bloom off, bit-identical), the shared cap semantics of
``bench_shingle_index``, the audit's internal invariants, and the
no-defaulted-bits guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.bloom import bloom_words_table
from cassandra_join_library_spark.operators.corpus import (
    bench_shingle_index, contamination_overlap,
)
from cassandra_join_library_spark.registry import all_queries
from cassandra_join_library_spark.sources.catalog import (
    load_table, local_frame,
)

SF_TINY = "/root/testdata/sf0.001"


def test_contamination_bloom_matches_exact(spark):
    """The screening theorem: the Bloom-prefiltered screen returns the
    EXACT capped contamination answer (no false negatives — the
    filter only removes shuffle volume).  Compared row-for-row against
    the same operator with the filter off."""
    docs = load_table(spark, SF_TINY, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    exact = contamination_overlap(
        new, "doc_id", "text", bench, max_bench_doc_freq=1)
    got = all_queries()["corpus_contamination_bloom"](spark, SF_TINY)
    a = {tuple(r) for r in exact.collect()}
    b = {tuple(r) for r in got.collect()}
    assert a == b and len(a) > 0


def test_bench_shingle_index_cap_semantics(spark):
    """The stop-shingle cap drops shingles appearing in MORE distinct
    bench docs than the cap — and only those; per-doc duplicates
    collapse first (distinct), so repetition within one doc never
    trips the cap."""
    rows = [
        (1, "a b c d"),        # shingles: "a b c", "b c d"
        (2, "a b c a b c"),    # "a b c" again (cross-doc), repeated
        (3, "x y z w"),        # unique to doc 3
    ]
    bench = local_frame(spark, rows, "doc_id bigint, text string")
    uncapped = {(r["shingle"], r["bdoc"]) for r in bench_shingle_index(
        bench, "doc_id", "text").collect()}
    capped = {(r["shingle"], r["bdoc"]) for r in bench_shingle_index(
        bench, "doc_id", "text", max_bench_doc_freq=1).collect()}
    # "a b c" appears in docs 1 and 2 -> capped out entirely
    assert ("a b c", 1) in uncapped and ("a b c", 2) in uncapped
    assert not any(s == "a b c" for s, _ in capped)
    # single-doc shingles survive
    assert ("x y z", 3) in capped and ("b c d", 1) in capped
    # doc-2's internal repetition of "b c a" etc. didn't create
    # phantom cap trips: every capped-out shingle truly spans 2+ docs
    dropped = {s for s, _ in uncapped} - {s for s, _ in capped}
    for s in dropped:
        assert len({d for t, d in uncapped if t == s}) > 1, s


def test_cut_audit_invariants(spark):
    """The audit's counts must be internally consistent and the
    theorem column true: members always pass (no false negatives),
    pass counts bound member counts, row-level cut is a valid ppm,
    and the row/distinct views agree directionally."""
    row = all_queries()["contamination_bloom_cut_audit"](
        spark, SF_TINY).collect()[0]
    assert row["no_false_negatives"] is True
    assert 0 < row["n_bench_shingles"]
    assert 0 <= row["n_member"] <= row["n_pass"] <= row["n_probes"]
    assert 0 <= row["n_rows_pass"] <= row["n_rows"]
    assert 0 <= row["cut_row_ppm"] <= 1_000_000
    assert 0 <= row["fp_ppm"] <= 1_000_000
    # the screen must CUT something on this fixture (a vacuous audit
    # with pass == probes proves nothing about the prune)
    assert row["n_rows_pass"] < row["n_rows"]


def test_contamination_overlap_bloom_guards(spark):
    """Both silent-false-negative guards must fire, and BEFORE any
    corpus-wide work: bench_bloom without the index it was built over
    (a differently-capped rebuild would let the filter prune shingles
    the exact join must match), and bench_bloom without bloom_bits
    (a defaulted size would probe the wrong words)."""
    docs = load_table(spark, SF_TINY, "documents").limit(10)
    idx = bench_shingle_index(docs, "doc_id", "text")
    store = idx.select("shingle").distinct()
    words = bloom_words_table(store, "shingle", 1 << 16, 5)
    with pytest.raises(ValueError, match="bench_index"):
        contamination_overlap(docs, "doc_id", "text", docs,
                              bench_bloom=words, bloom_bits=1 << 16)
    with pytest.raises(ValueError, match="bloom_bits"):
        contamination_overlap(docs, "doc_id", "text", docs,
                              bench_index=idx, bench_bloom=words)


def test_contamination_overlap_prebuilt_index_matches_rebuild(spark):
    """Passing the prebuilt capped index must give the same answer as
    letting contamination_overlap rebuild it — the single-build path
    corpus_contamination_bloom rides."""
    docs = load_table(spark, SF_TINY, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    idx = bench_shingle_index(bench, "doc_id", "text",
                              max_bench_doc_freq=1)
    via_rebuild = contamination_overlap(
        new, "doc_id", "text", bench, max_bench_doc_freq=1)
    via_index = contamination_overlap(
        new, "doc_id", "text", bench, bench_index=idx)
    assert {tuple(r) for r in via_rebuild.collect()} \
        == {tuple(r) for r in via_index.collect()}
