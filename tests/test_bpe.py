"""BPE training semantics: greedy overlap rule, lexicographic
tie-breaks, and tiny-corpus DuckDB parity."""

from __future__ import annotations

import duckdb
import pandas as pd

from cassandra_join_library_spark.operators.bpe import bpe_train

from .background import heavy_check

#: the overlap+ties parity corpus — ONE literal feeds the Spark sweep
#: entry and the DuckDB twin
TINY_CORPUS = ["aaa banana band", "banana aaa bab", "band bab banana"]


def _merges(spark, texts, n_merges):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = bpe_train(spark, df, "text", n_merges=n_merges, top_words=100)
    return [(r["step"], r["merge_left"], r["merge_right"], r["pair_count"])
            for r in out.orderBy("step").collect()]


heavy_check("bpe_merges_overlap")(lambda s: _merges(s, ["aaa aaa"], 3))


def test_overlapping_same_symbol_pair_merges_at_even_offsets(heavy_results):
    """'aaa' under pair (a,a): greedy left-to-right keeps offset 0
    only -> [aa, a, </w>]; the count still reflects BOTH occurrences."""
    got = heavy_results("bpe_merges_overlap")
    # (a,a) seen twice per word instance, two instances -> count 4
    assert got[0] == (1, "a", "a", 4)
    # after merge: [aa, a, </w>] -> (aa,a)=2 vs (a,</w>)=2 tie;
    # lexicographic: 'a' < 'aa' so (a,</w>) wins
    assert got[1] == (2, "a", "</w>", 2)
    assert got[2] == (3, "aa", "a</w>", 2)


heavy_check("bpe_merges_tiebreak")(lambda s: _merges(s, ["xy zw"], 1))
heavy_check("bpe_merges_tiny_corpus")(lambda s: _merges(
    s, TINY_CORPUS, 6))


def test_tiebreak_is_lexicographic(heavy_results):
    """Equal counts must resolve by (left, right) ascending."""
    got = heavy_results("bpe_merges_tiebreak")
    # (x,y), (y,</w>), (z,w), (w,</w>) all count 1 -> (w,</w>) first?
    # '<' sorts before lowercase letters in ASCII: '</w>' as right
    # operand; left candidates: w,x,y,z -> 'w' smallest
    assert got[0] == (1, "w", "</w>", 1)


def test_tiny_corpus_matches_unrolled_sql(heavy_results):
    """End-to-end engine parity on a corpus with overlap + ties."""
    from cassandra_join_library_spark.queries._bpe_sql import bpe_train_sql

    texts = TINY_CORPUS
    got = heavy_results("bpe_merges_tiny_corpus")

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    want = [tuple(r) for r in con.execute(
        bpe_train_sql(n_merges=6, top_words=100)
    ).fetchall()]
    assert got == want
