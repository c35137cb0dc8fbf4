"""Text-operator edges: hand-checkable boilerplate coverage — span
overlap merging, sub-k docs, and the min_df threshold."""

from __future__ import annotations

from cassandra_join_library_spark.operators.text import (
    boilerplate_span_coverage,
)
from cassandra_join_library_spark.sources.catalog import local_frame


def test_boilerplate_coverage_hand_corpus(spark):
    shared = "t1 t2 t3 t4 t5 t6 t7 t8"          # one shared 8-gram
    rows = [
        (1, shared + " a b"),                    # 10 tokens, 8 covered
        (2, "x " + shared),                      # 9 tokens, 8 covered
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),       # unique -> 0 covered
        (4, "short doc"),                        # < k words -> 0 covered
    ]
    df = local_frame(spark, rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_covered"], r["boiler_ppm"])
           for r in boilerplate_span_coverage(
               df, "doc_id", "text", k=8, min_df=2).collect()}
    assert got == {
        1: (10, 8, 800000),
        2: (9, 8, 888888),
        3: (9, 0, 0),
        4: (2, 0, 0),
    }


def test_boilerplate_overlapping_occurrences_merge(spark):
    # 'w w w w w w w w w' in two docs: every 8-gram is 'w'*8, hot;
    # occurrences at pos 0 and 1 overlap -> 9 covered positions, not 16
    rows = [(1, "w " * 8 + "w"), (2, "w " * 8 + "w")]
    df = local_frame(spark, rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_covered"]
           for r in boilerplate_span_coverage(
               df, "doc_id", "text", k=8, min_df=2).collect()}
    assert got == {1: 9, 2: 9}


def test_boilerplate_min_df_threshold(spark):
    shared = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [(1, shared), (2, shared)]
    df = local_frame(spark, rows, "doc_id bigint, text string")
    # min_df=3: two docs are not enough — nothing is boilerplate
    got = {r["doc_id"]: r["n_covered"]
           for r in boilerplate_span_coverage(
               df, "doc_id", "text", k=8, min_df=3).collect()}
    assert got == {1: 0, 2: 0}
