"""BPE training semantics: greedy overlap rule, lexicographic
tie-breaks, and tiny-corpus DuckDB parity."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.bpe import (
    bpe_fertility_drift, bpe_train, vocab_oov_drift,
)
from cassandra_join_library_spark.sources.catalog import local_frame

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


# ---- tokenizer drift audits: empty-side NULL guards, OOV accounting,
# drift sign, and the frozen-vocab property (training must see ONLY
# the prior snapshot)

def _tagged(spark, rows):
    return local_frame(spark, rows, "snap string, lang string, text string")


def test_oov_drift_counts_and_sign(spark):
    # dictionary trained on side a only: 'aa bb' words; side b
    # introduces 'zz' (OOV) — drift must be positive on side b
    train = local_frame(spark, [("aa bb aa",)], "text string")
    tagged = _tagged(spark, [
        ("a", "en", "aa bb"),          # 0/2 OOV
        ("b", "en", "aa zz zz zz"),    # 3/4 OOV
    ])
    row = vocab_oov_drift(train, tagged, "text", "lang",
                          top_words=10).collect()[0]
    assert row["class"] == "en"
    assert (row["n_words_a"], row["n_oov_a"]) == (2, 0)
    assert (row["n_words_b"], row["n_oov_b"]) == (4, 3)
    assert row["oov_a_ppm"] == 0
    assert row["oov_b_ppm"] == 750_000
    assert row["drift_ppm"] == 750_000


def test_oov_drift_empty_side_is_null_not_error(spark):
    # a class present in only one snapshot: the missing side's ppm is
    # NULL (never a divide-by-zero under ANSI mode), drift NULL too
    train = local_frame(spark, [("aa",)], "text string")
    tagged = _tagged(spark, [("b", "fr", "aa qq")])
    row = vocab_oov_drift(train, tagged, "text", "lang").collect()[0]
    assert row["n_words_a"] == 0
    assert row["oov_a_ppm"] is None
    assert row["oov_b_ppm"] == 500_000
    assert row["drift_ppm"] is None


def test_fertility_drift_frozen_vocab(spark):
    # the symbol table must come from the TRAIN frame only: 'zz' is
    # new on side b, so it pays the character-token floor (len+1 = 3)
    # while in-vocab 'aa' costs its trained symbol count
    train = local_frame(spark, [("aa aa aa",)], "text string")
    tagged = _tagged(spark, [
        ("a", "en", "aa aa"),
        ("b", "en", "aa zz"),
    ])
    row = bpe_fertility_drift(
        spark, train, tagged, "text", "lang",
        n_merges=8, top_words=10, retrain_ppm=400_000).collect()[0]
    # training on 'aa': merges collapse to a single symbol per word
    assert (row["n_words_a"], row["n_bpe_tokens_a"]) == (2, 2)
    # side b: 'aa' -> 1 token, OOV 'zz' -> len+1 = 3 tokens
    assert (row["n_words_b"], row["n_bpe_tokens_b"]) == (2, 4)
    assert row["fert_a_ppm"] == 1_000_000
    assert row["fert_b_ppm"] == 2_000_000
    assert row["drift_ppm"] == 1_000_000
    assert row["needs_retrain"] is True


def test_fertility_drift_no_drift_no_retrain(spark):
    train = local_frame(spark, [("aa bb",)], "text string")
    tagged = _tagged(spark, [
        ("a", "en", "aa bb"),
        ("b", "en", "bb aa"),
    ])
    row = bpe_fertility_drift(
        spark, train, tagged, "text", "lang",
        retrain_ppm=50_000).collect()[0]
    assert row["drift_ppm"] == 0
    assert row["needs_retrain"] is False


def test_fertility_drift_empty_side_null_verdict(spark):
    train = local_frame(spark, [("aa",)], "text string")
    tagged = _tagged(spark, [("b", "de", "aa")])
    row = bpe_fertility_drift(
        spark, train, tagged, "text", "lang").collect()[0]
    assert row["fert_a_ppm"] is None
    assert row["drift_ppm"] is None
    assert row["needs_retrain"] is None
