"""BPE (byte-pair-encoding) tokenizer training over a distributed vocabulary.

The missing "train the tokenizer" step of an LLM data pipeline,
re-expressed Spark-first in the word-frequency formulation (Sennrich
et al., 2016 — the classic implementation trains on the word-count
dictionary, not the raw corpus):

1. ONE distributed pass builds the (word, freq) vocabulary — the only
   corpus-sized job; at 100 TB this is a plain word-count shuffle.
2. The merge loop runs on the driver over the collected vocabulary:
   each iteration counts adjacent symbol pairs weighted by word freq,
   takes the argmax and applies the merge to every word's symbols.

Merge application semantics (both here and in the SQL oracle): greedy
left-to-right, i.e. overlapping occurrences of a same-symbol pair
("aaa" under (a,a)) merge at even offsets within each run — the
standard BPE behavior.  Symbols are compared as full strings, ties in
pair counts break lexicographically on (left, right), so training is
fully deterministic and engine-independent.

Scale: the vocabulary is at most ``top_words`` rows BY CONSTRUCTION,
orders of magnitude smaller than the corpus, so the loop's state is
constant-size driver state (the same argument as k-means centroids).
Encoding is a broadcast equi-join of the corpus against the trained
symbol table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import local_frame

END_MARK = "</w>"


def _alpha_words(df: DataFrame, text_col: str, *cols: Column) -> DataFrame:
    """``cols`` and one ``word`` row per lowercase, alphabetic word of
    ``text_col``."""
    return (
        df.select(*cols,
                  F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
    )


def build_word_vocab(df: DataFrame, text_col: str,
                     top_words: int = 2000) -> DataFrame:
    """(word, freq) dictionary: lowercase, alphabetic words only,
    top-``top_words`` by frequency (ties broken by word) — the
    deterministic training dictionary.  At 100 TB apply a frequency
    floor before the top-N so the sort input is bounded."""
    return (
        _alpha_words(df, text_col)
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(top_words)
    )


def bpe_train(
    spark: SparkSession,
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
    top_words: int = 2000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns (step, merge_left,
    merge_right, pair_count) — the merge table a tokenizer ships."""
    merges, _ = bpe_train_state(spark, df, text_col, n_merges, top_words)
    return merges


def _train_local(
    vocab: "list[tuple[str, int]]", n_merges: int,
) -> "tuple[list, list]":
    """The merge loop on the collected vocabulary.  Legitimate driver
    state: the vocab is ≤ ``top_words`` rows BY CONSTRUCTION (the same
    constant-size argument as k-means centroids / PQ codebooks)."""
    words = [(list(w) + [END_MARK], f) for w, f in vocab]
    merges = []
    for step in range(1, n_merges + 1):
        counts: "dict[tuple[str, str], int]" = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (pa, pb), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, pa, pb, cnt))
        nxt = []
        for syms, f in words:
            out, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == pa
                        and syms[i + 1] == pb):
                    out.append(pa + pb)
                    i += 2  # greedy: the consumed symbol can't re-pair
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        words = nxt
    return merges, words


def bpe_train_state(
    spark: SparkSession,
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
    top_words: int = 2000,
) -> "tuple[DataFrame, DataFrame]":
    """Training returning BOTH artifacts: the merge table and the
    final (word, syms) symbol table — the trained tokenization of
    every vocabulary word, which is what encoding joins against.

    The corpus-sized work (word counting) is distributed; the merge
    loop runs DRIVER-LOCAL because its input is the
    ≤``top_words``-row vocabulary — per-iteration Spark jobs over a
    constant-size frame are pure scheduling overhead (measured ~13 s
    vs <1 s at sf0.01 for identical output)."""
    rows = build_word_vocab(df, text_col, top_words).collect()
    merges, words = _train_local(
        [(r["word"], int(r["freq"])) for r in rows], n_merges)
    words_df = local_frame(
        spark,
        # concatenated symbols spell word + END_MARK
        [("".join(syms)[: -len(END_MARK)], f, syms) for syms, f in words],
        "word string, freq bigint, syms array<string>",
    )
    merges_df = local_frame(
        spark, merges,
        "step bigint, merge_left string, merge_right string,"
        " pair_count bigint",
    )
    return merges_df, words_df


def _encode_words(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode exploded word occurrences against the trained symbol
    table: broadcast equi-join (the vocab is ≤``top_words`` rows, so
    the corpus never shuffles) + the OOV character-token floor
    (len + 1 for the end mark).  The ONE copy of the encoding rule —
    every consumer (per-doc counts, fertility drift) shares it so the
    floor can never desynchronize between audits."""
    vocab_tok = vocab.select(
        "word", F.size("syms").cast("bigint").alias("n_sym"))
    return (
        words.join(F.broadcast(vocab_tok), "word", "left")
        .withColumn(
            "n_tok",
            F.coalesce(F.col("n_sym"), F.length("word").cast("bigint") + 1),
        )
    )


def _snap_pivot(joined: DataFrame,
                measures: "dict[str, object]") -> DataFrame:
    """ONE map-side-combinable aggregate per class: each measure is
    conditionally summed per snapshot side ('a'/'b') — a single
    groupBy over the corpus-sized frame, replacing the prior
    (snap, class) → class two-stage aggregation.  Column order is
    (measure₁_a, measure₂_a, ..., measure₁_b, ...)."""
    aggs = [
        F.sum(F.when(F.col("snap") == side, expr).otherwise(F.lit(0)))
        .cast("bigint").alias(f"{name}_{side}")
        for side in ("a", "b")
        for name, expr in measures.items()
    ]
    return joined.groupBy("class").agg(*aggs)


def bpe_encode_counts(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 8,
    top_words: int = 2000,
) -> DataFrame:
    """Tokenize every document with the trained merges: per doc,
    (n_words, n_bpe_tokens).

    The trained symbol table already holds each vocabulary word's
    tokenization, so encoding is a plain equi-join of the corpus's
    exploded words against a ≤``top_words``-row dimension — Catalyst
    broadcasts it and the corpus never shuffles (the scale path: the
    expensive merge loop runs once on the vocab, never per document).
    Out-of-vocabulary words fall back to character tokens
    (len + 1 for the end mark), the untrained-BPE floor."""
    _, vocab = bpe_train_state(spark, df, text_col, n_merges, top_words)
    doc_words = _alpha_words(df, text_col, F.col(id_col))
    return (
        _encode_words(doc_words, vocab)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
    )


def _tagged_words(tagged_df: DataFrame, text_col: str,
                  class_col: str) -> DataFrame:
    """(snap, class, word) occurrences: the one corpus-sized pass both
    drift audits share — ``build_word_vocab``'s tokenization, so
    membership tests against the trained dictionary are
    apples-to-apples."""
    return _alpha_words(tagged_df, text_col, F.col("snap"),
                        F.col(class_col).alias("class"))


# rounded ppm division guarded for an empty side (a class present in
# only one snapshot): NULL, never a divide-by-zero under ANSI mode.
# The 1e6 numerator needs the per-class count <= 2^63/1e6 ~ 9.2e12;
# a 100 TB corpus (~2.5e13 tokens) concentrated in ONE class crosses
# that — switch the numerator to DECIMAL there (the lift convention)
_PPM_SAFE = ("CASE WHEN ({b}) = 0 THEN NULL ELSE "
             "((1000000 * ({a})) div ({b})) + "
             "(CASE WHEN 2 * ((1000000 * ({a})) % ({b})) >= ({b}) "
             "THEN 1 ELSE 0 END) END")


def bpe_fertility_drift(
    spark: SparkSession,
    train_df: DataFrame,
    tagged_df: DataFrame,
    text_col: str,
    class_col: str,
    n_merges: int = 8,
    top_words: int = 2000,
    retrain_ppm: int = 50_000,
) -> DataFrame:
    """Tokenizer-fertility drift across corpus snapshots: train BPE on
    ``train_df`` (the PRIOR snapshot — the tokenizer that shipped),
    encode BOTH snapshots of ``tagged_df`` (rows tagged 'a'/'b' in
    ``snap``) with that frozen symbol table, and report per-class
    fertility (BPE tokens per word, rounded ppm) side by side with the
    signed drift — the audit that decides whether a new crawl's
    language mix has outgrown the shipped tokenizer before a retrain
    is paid for.

    Scale shape: training's corpus-sized step is one word-count
    shuffle (``build_word_vocab``); the merge loop runs once on the
    ≤``top_words``-row dictionary; encoding both snapshots is ONE
    tagged corpus pass joined against the broadcast symbol table, and
    the side pivot is a SINGLE map-side-combinable aggregate on the
    domain-bounded class key (conditional sums per side).  OOV words cost len+1 character tokens (the
    untrained-BPE floor), so NEW-vocabulary drift shows up as rising
    fertility, exactly the signal the audit exists to catch.  Returns
    one row per class with n_words/n_bpe_tokens/fertility_ppm per
    side, drift_ppm (b - a, signed), and needs_retrain
    (|drift| >= ``retrain_ppm``; NULL when a side is empty).
    """
    _, vocab = bpe_train_state(spark, train_df, text_col,
                               n_merges, top_words)
    words = _tagged_words(tagged_df, text_col, class_col)
    wide = _snap_pivot(
        _encode_words(words, vocab),
        {"n_words": F.lit(1), "n_bpe_tokens": F.col("n_tok")},
    )
    fa = F.expr(_PPM_SAFE.format(a="n_bpe_tokens_a", b="n_words_a")) \
        .cast("bigint")
    fb = F.expr(_PPM_SAFE.format(a="n_bpe_tokens_b", b="n_words_b")) \
        .cast("bigint")
    return wide.select(
        "class", "n_words_a", "n_bpe_tokens_a", fa.alias("fert_a_ppm"),
        "n_words_b", "n_bpe_tokens_b", fb.alias("fert_b_ppm"),
        (fb - fa).cast("bigint").alias("drift_ppm"),
        (F.abs(fb - fa) >= retrain_ppm).alias("needs_retrain"),
    )


def vocab_oov_drift(
    train_df: DataFrame,
    tagged_df: DataFrame,
    text_col: str,
    class_col: str,
    top_words: int = 2000,
) -> DataFrame:
    """Dictionary OOV-mass drift across snapshots: the fraction of
    word OCCURRENCES outside the prior snapshot's top-``top_words``
    dictionary, per class and side, with the signed drift — the
    cheap leading indicator of :func:`bpe_fertility_drift` (vocabulary
    turnover shows here before it inflates fertility), runnable on
    every crawl because it needs no merge training at all.

    One word-count shuffle to build the dictionary, one tagged corpus
    pass left-joined against its broadcast, one domain-bounded
    class-keyed aggregate.  Returns (class, n_words_a, n_oov_a,
    oov_a_ppm, n_words_b, n_oov_b, oov_b_ppm, drift_ppm).
    """
    vocab = build_word_vocab(train_df, text_col, top_words) \
        .select("word", F.lit(1).alias("_hit"))
    words = _tagged_words(tagged_df, text_col, class_col)
    wide = _snap_pivot(
        words.join(F.broadcast(vocab), "word", "left"),
        {
            "n_words": F.lit(1),
            "n_oov": F.when(F.col("_hit").isNull(), 1).otherwise(0),
        },
    )
    oa = F.expr(_PPM_SAFE.format(a="n_oov_a", b="n_words_a")).cast("bigint")
    ob = F.expr(_PPM_SAFE.format(a="n_oov_b", b="n_words_b")).cast("bigint")
    return wide.select(
        "class", "n_words_a", "n_oov_a", oa.alias("oov_a_ppm"),
        "n_words_b", "n_oov_b", ob.alias("oov_b_ppm"),
        (ob - oa).cast("bigint").alias("drift_ppm"),
    )
