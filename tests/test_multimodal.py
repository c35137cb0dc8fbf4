"""Multimodal-domain tests: audio snippet detection — snippet-fixture
byte round-trip (incl. the window-aligned borrow), windowed
sub-fingerprint semantics, corrupt-input drops, and the cross-clip
composite-key pair semantics."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row, functions as F

from cassandra_join_library_spark.operators.multimodal import (
    pcm_window_fingerprints, synthesize_wav_pcm_snippets,
)
from cassandra_join_library_spark.sources.catalog import local_frame


def _ids(spark, ids):
    return local_frame(spark, [Row(doc_id=i) for i in ids])


def _sample(g: int, v: int, i: int) -> int:
    if v == 2 and 61 <= i <= 182:
        g2 = (g + 1) % 100
        return int(hashlib.md5(f"{g2}_{i - 61}".encode())
                   .hexdigest()[:4], 16) % 160 - 80
    s = int(hashlib.md5(f"{g}_{i}".encode()).hexdigest()[:4], 16) % 160 - 80
    if v == 1 and i in (14, 15):
        s += 40
    return s


def _ref_fp(doc_id: int, w: int) -> int:
    g, v = doc_id % 100, (doc_id // 100) % 3
    ss = [_sample(g, v, w * 61 + j) for j in range(122)]
    en = [ss[2 * k] ** 2 + ss[2 * k + 1] ** 2 for k in range(61)]
    return sum(1 << b for b in range(60) if en[b + 1] > en[b])


def test_snippet_wav_roundtrip_bytes(spark):
    """The synthesized payload is a spec-conformant 654-byte PCM WAV
    whose decoded samples equal the synthesis formula — including the
    v=2 clip whose samples 61..182 are the NEXT group's base run."""
    out = {r["doc_id"]: bytes(r["payload"])
           for r in synthesize_wav_pcm_snippets(
               _ids(spark, [3, 103, 203]), "doc_id").collect()}
    for doc_id, payload in out.items():
        assert len(payload) == 654
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        assert int.from_bytes(payload[40:44], "little") == 610
        g, v = doc_id % 100, (doc_id // 100) % 3
        for i in range(305):
            raw = int.from_bytes(payload[44 + 2 * i: 46 + 2 * i], "little")
            signed = raw - 65536 if raw >= 32768 else raw
            assert signed == _sample(g, v, i), (doc_id, i)


def test_window_fingerprints_match_python_reference(spark):
    """Every (clip, window) sub-fingerprint equals the driver-side
    reference; the planted borrow makes borrower window 1 equal the
    source's window 0; the v=1 wobble moves only window 0 and by at
    most 2 bits."""
    ids = [0, 5, 100, 205, 300, 6]
    clips = synthesize_wav_pcm_snippets(_ids(spark, ids), "doc_id")
    got = {(r["doc_id"], r["win"]): r["fp"]
           for r in pcm_window_fingerprints(clips, "doc_id").collect()}
    assert set(got) == {(d, w) for d in ids for w in range(4)}
    for (d, w), fp in got.items():
        assert fp == _ref_fp(d, w), (d, w)
    # doc 205 = (g=5, v=2): borrows group 6's base window into its
    # window 1; doc 6 = (g=6, v=0)
    assert got[(205, 1)] == got[(6, 0)]
    # wobble (doc 100 = g=0 v=1) vs master (doc 0): window 0 within
    # 2 bits, windows 1-3 identical
    assert 1 <= bin(got[(100, 0)] ^ got[(0, 0)]).count("1") <= 2
    for w in range(1, 4):
        assert got[(100, w)] == got[(0, w)]


def test_window_fingerprints_drop_non_wav(spark):
    """Payloads without RIFF/WAVE magic, or too short for one window,
    are dropped — same corrupt-inputs-are-data contract as the
    whole-clip fingerprint."""
    from cassandra_join_library_spark.operators.multimodal import (
        synthesize_wav_pcm,
    )

    fake = _ids(spark, [7]).select(
        "doc_id", F.unhex(F.lit("FF" * 700)).alias("payload"))
    short = synthesize_wav_pcm(_ids(spark, [8]), "doc_id", n_samples=64)
    ok = synthesize_wav_pcm_snippets(_ids(spark, [2]), "doc_id")
    out = pcm_window_fingerprints(
        fake.unionByName(short).unionByName(ok), "doc_id").collect()
    assert sorted(r["doc_id"] for r in out) == [2, 2, 2, 2]


def test_snippet_pairs_cross_clip_only(spark):
    """The composite-key pair join never reports within-clip window
    pairs, and reports the planted borrow at the right offsets."""
    from cassandra_join_library_spark.queries.multimodal import _snippet_pairs

    ids = [205, 6]
    clips = synthesize_wav_pcm_snippets(_ids(spark, ids), "doc_id")
    fps = (pcm_window_fingerprints(clips, "doc_id")
           .select(F.col("doc_id").alias("doc"), "win", "fp"))
    got = [(r["doc_a"], r["win_a"], r["doc_b"], r["win_b"], r["hamming"])
           for r in _snippet_pairs(fps).collect()]
    # exactly one cross-clip match: borrower 205 window 1 == source 6
    # window 0 (groups 5 and 6 share no other content)
    assert got == [(6, 0, 205, 1, 0)]
