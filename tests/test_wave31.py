"""Wave-31 operator edges: the portable Bloom membership store —
bit-exact words vs an independent Python reference, the
no-false-negative theorem, the bit-63 mask path, merge algebra, and
exact-answer parity of the Bloom-prefiltered cross-snapshot dedup.

The two Spark-heavy payloads (corpus parity, probe pass set) run on
the background sweep (tests/background.py) so the suite wall absorbs
them."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.bloom import (
    bloom_build, bloom_might_contain, bloom_pass_keys, bloom_words_table,
)
from cassandra_join_library_spark.operators.dedup import (
    cross_snapshot_containment, shingles,
)
from cassandra_join_library_spark.sources.catalog import local_frame

from .background import heavy_check

_K = 5


def _ref_positions(key: str, num_bits: int, k: int = _K):
    """Independent reference for operators/bloom.py
    _portable_positions: 60-bit md5-prefix, ``i:`` seed prefix."""
    return [
        int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16)
        % num_bits
        for i in range(k)
    ]


def _ref_words(keys, num_bits: int):
    words: dict = {}
    for key in keys:
        for pos in _ref_positions(key, num_bits):
            w, b = pos // 64, pos % 64
            words[w] = words.get(w, 0) | (1 << b)
    # pack python's unbounded int into the signed 64-bit the BIGINT
    # column carries (bit 63 set -> negative)
    return {w: v - (1 << 64) if v >= (1 << 63) else v
            for w, v in words.items()}


def test_bloom_words_table_bit_exact(spark):
    keys = [f"shingle {i} text" for i in range(40)]
    df = local_frame(spark, [(k,) for k in keys], "s string")
    got = {r["w"]: r["word"]
           for r in bloom_words_table(df, "s", 1 << 10, _K).collect()}
    assert got == _ref_words(keys, 1 << 10)


def test_bloom_words_table_sharded_build_merges_exact(spark):
    # shard= must produce per-shard tables whose bit_or equals the
    # single-pass build (the merge algebra the store lives on)
    keys = [f"key {i}" for i in range(60)]
    df = local_frame(spark, [(k,) for k in keys], "s string")
    single = {r["w"]: r["word"]
              for r in bloom_words_table(df, "s", 1 << 10, _K).collect()}
    sharded = bloom_words_table(
        df, "s", 1 << 10, _K, shard=F.length("s") % 3)
    merged = {r["w"]: r["word"]
              for r in sharded.groupBy("w")
              .agg(F.bit_or("word").alias("word")).collect()}
    assert merged == single


def test_bloom_words_table_bit63_mask(spark):
    # deterministic search for a key whose md5 position hits bit 63 of
    # some word — exercises the signed-shift wrap the DuckDB oracle
    # CASEs around (wave-30 lesson)
    num_bits = 1 << 10
    key = next(
        k for k in (f"probe-{j}" for j in range(10_000))
        if any(p % 64 == 63 for p in _ref_positions(k, num_bits))
    )
    df = local_frame(spark, [(key,)], "s string")
    got = {r["w"]: r["word"]
           for r in bloom_words_table(df, "s", num_bits, _K).collect()}
    assert got == _ref_words([key], num_bits)
    assert any(v < 0 for v in got.values())  # bit 63 really was set


def test_bloom_size_validation(spark):
    df = local_frame(spark, [("x",)], "s string")
    for bad in (0, -64, 100):
        with pytest.raises(ValueError):
            bloom_words_table(df, "s", num_bits=bad)
        with pytest.raises(ValueError):
            bloom_pass_keys(df, "s", df, num_bits=bad)
    # probe size is required and must travel with the store
    with pytest.raises(ValueError):
        cross_snapshot_containment(
            df.select(F.lit(1).alias("doc_id"), F.col("s").alias("text")),
            df.select(F.col("s").alias("shingle")),
            "doc_id", "text", store_bloom=df)


@heavy_check("wave31_pass_keys_payload")
def _pass_keys_payload(spark):
    num_bits = 1 << 14
    members = [f"member {i}" for i in range(100)]
    absent = [f"absent {i}" for i in range(100)]
    store = local_frame(spark, [(k,) for k in members], "s string")
    words = bloom_words_table(store, "s", num_bits, _K)
    probes = local_frame(
        spark, [(k,) for k in members + absent], "s string")
    got = {r["s"] for r in
           bloom_pass_keys(probes, "s", words, num_bits, _K).collect()}
    return members, absent, got


def test_bloom_pass_keys_no_false_negatives_and_rejects(heavy_results):
    num_bits = 1 << 14
    members, absent, got = heavy_results("wave31_pass_keys_payload")
    # theorem: every member passes
    assert set(members) <= got
    # expected behavior, verified against the reference filter: each
    # extra passing key must be a genuine false positive of THIS
    # filter, not a probe bug
    ref = _ref_words(members, num_bits)

    def ref_pass(key):
        return all(
            (ref.get(p // 64, 0) >> (p % 64)) & 1
            for p in _ref_positions(key, num_bits)
        )

    assert got == {k for k in members + absent if ref_pass(k)}
    # and at 16 Ki bits / 500 set bits the absent side can't all pass
    assert len(got) < len(members) + len(absent)


@heavy_check("wave31_cross_snapshot_parity")
def _cross_snapshot_parity(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = (shingles(prior, "doc_id", "text", 5)
             .select("shingle").distinct().localCheckpoint(eager=True))
    plain = cross_snapshot_containment(
        new, store, "doc_id", "text")
    # deliberately UNDERSIZED filter (2^16 bits vs ~50k store keys,
    # heavy fp rate): parity must hold no matter how saturated the
    # filter is — fp only weakens pruning, never the answer
    words = bloom_words_table(store, "shingle", 1 << 16, _K)
    bloomed = cross_snapshot_containment(
        new, store, "doc_id", "text",
        store_bloom=words, bloom_bits=1 << 16, bloom_hashes=_K)
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in bloomed.collect()}
    return a, b


def test_cross_snapshot_bloom_prefilter_exact_parity(heavy_results):
    a, b = heavy_results("wave31_cross_snapshot_parity")
    assert a == b and a  # identical, and non-degenerate


def test_bloom_might_contain_numpy_literal_parity(spark):
    # the numpy-Literal fix must agree with the reference bit maths
    # (F.lit(list) -> per-row CreateArray was the perf bug; the
    # replacement must not change a single answer)
    keys = [f"k{i}" for i in range(50)]
    store = local_frame(spark, [(k,) for k in keys[:25]], "s string")
    words = bloom_build(store, "s", 1 << 10, _K)
    probes = local_frame(spark, [(k,) for k in keys], "s string")
    got = {r["s"] for r in probes.filter(
        bloom_might_contain(F.col("s"), words, _K)).collect()}
    assert set(keys[:25]) <= got          # no false negatives
    assert got <= set(keys)
    # at 2^10 bits / 125 set bits, 25 absent keys can't ALL collide
    # into passes — a probe that stopped testing bits would show here
    assert len(got) < len(keys)
    # the exact end-to-end answer equality lives in the
    # bloom_prefilter_join oracle (gate) — this test pins the literal
    # representation change specifically


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_keys = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0, max_size=24),
    min_size=1, max_size=24, unique=True)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(keys=_keys, bits_pow=st.integers(min_value=6, max_value=14))
def test_bloom_words_table_bit_exact_property(spark, keys, bits_pow):
    # arbitrary unicode keys (md5 runs over utf-8 bytes on both the
    # JVM and python sides — non-ASCII is where a codec mismatch
    # would hide) and arbitrary power-of-two sizings down to one word
    num_bits = 1 << bits_pow
    df = local_frame(spark, [(k,) for k in keys], "s string")
    got = {r["w"]: r["word"]
           for r in bloom_words_table(df, "s", num_bits, _K).collect()}
    assert got == _ref_words(keys, num_bits)
