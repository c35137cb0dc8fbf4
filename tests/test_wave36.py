"""Wave-36 operator edges: audio-fingerprint dedup — WAV/PCM byte
round-trip, energy-difference fingerprint semantics, short-payload
behavior, and the sf1 stratum self-check machinery pinned locally."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row, functions as F

from cassandra_join_library_spark.operators.multimodal import (
    pcm_energy_diff_fingerprint, synthesize_wav_pcm_groups,
)
from cassandra_join_library_spark.sources.catalog import local_frame


def _ids(spark, ids):
    return local_frame(spark, [Row(doc_id=i) for i in ids])


def _sample(g: int, v: int, i: int) -> int:
    s = int(hashlib.md5(f"{g}_{i}".encode()).hexdigest()[:4], 16) % 160 - 80
    if v == 1 and i in (14, 15):
        s += 40
    if v == 2 and i in (40, 41, 60, 61, 80, 81, 100, 101):
        s += 40
    return s


def _ref_fp(doc_id: int) -> int:
    g, v = doc_id % 100, (doc_id // 100) % 3
    ss = [_sample(g, v, i) for i in range(122)]
    en = [ss[2 * f] ** 2 + ss[2 * f + 1] ** 2 for f in range(61)]
    return sum(1 << b for b in range(60) if en[b + 1] > en[b])


def test_wav_groups_roundtrip_bytes(spark):
    """The synthesized payload is a spec-conformant 288-byte PCM WAV
    and the decoded little-endian int16 samples equal the synthesis
    formula (md5 base + variant bumps)."""
    out = synthesize_wav_pcm_groups(_ids(spark, [207]),
                                    "doc_id").collect()[0]
    payload = bytes(out["payload"])
    assert len(payload) == 288
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert int.from_bytes(payload[22:24], "little") == 1      # channels
    assert int.from_bytes(payload[24:28], "little") == 16000  # rate
    assert int.from_bytes(payload[34:36], "little") == 16     # bits
    assert int.from_bytes(payload[40:44], "little") == 244    # data size
    g, v = 207 % 100, (207 // 100) % 3
    assert v == 2  # exercise the four-frame edit branch
    for i in range(122):
        raw = int.from_bytes(payload[44 + 2 * i: 46 + 2 * i], "little")
        signed = raw - 65536 if raw >= 32768 else raw
        assert signed == _sample(g, v, i), i


def test_fingerprint_matches_python_reference(spark):
    """The 60-bit energy-difference fingerprint equals a driver-side
    reference for master, wobbled, and heavily-edited variants — and
    the exact-duplicate pair (same g, same v) hashes identically."""
    df = synthesize_wav_pcm_groups(_ids(spark, [0, 100, 200, 300]),
                                   "doc_id")
    got = {r["doc_id"]: r["fp"]
           for r in pcm_energy_diff_fingerprint(df, "doc_id").collect()}
    assert set(got) == {0, 100, 200, 300}
    for doc_id, fp in got.items():
        assert fp == _ref_fp(doc_id), doc_id
    # ids 0 and 300 share g=0 with v=0 -> identical bytes, identical fp
    assert got[0] == got[300]
    # group 0 is one of the ~half of groups whose four-frame edit
    # lands outside radius 2 (the cut is probabilistic per group —
    # the recall audit measures the aggregate; this pins one known
    # outside case)
    assert bin(got[0] ^ got[200]).count("1") > 2


def test_fingerprint_drops_short_payloads(spark):
    """Clips with fewer samples than the fingerprint width needs are
    dropped, not NULLed or mis-hashed (the oracle mirrors the same
    n_samples bound)."""
    from cassandra_join_library_spark.operators.multimodal import (
        synthesize_wav_pcm,
    )

    short = synthesize_wav_pcm(_ids(spark, [1]), "doc_id",
                               n_samples=64)
    ok = synthesize_wav_pcm_groups(_ids(spark, [2]), "doc_id")
    both = short.unionByName(ok)
    out = pcm_energy_diff_fingerprint(both, "doc_id").collect()
    assert [r["doc_id"] for r in out] == [2]
    assert out[0]["fp"] == _ref_fp(2)


def test_fingerprint_drops_non_wav_payloads(spark):
    """Payloads without RIFF/WAVE magic are dropped even when their
    bytes 40-43 happen to decode to a huge 'data size' — a mixed
    modality corpus must not get garbage audio fingerprints from
    images or arbitrary binaries (r15 ADVICE: the magic gate mirrors
    parse_wav_metadata)."""
    from pyspark.sql import functions as F

    # 300 bytes of 0xFF: bytes 40-43 read as data_size 0xFFFFFFFF,
    # far beyond the 122-sample bound — only the magic gate drops it
    fake = _ids(spark, [7]).select(
        "doc_id", F.unhex(F.lit("FF" * 300)).alias("payload"))
    ok = synthesize_wav_pcm_groups(_ids(spark, [2]), "doc_id")
    out = pcm_energy_diff_fingerprint(
        fake.unionByName(ok), "doc_id").collect()
    assert [r["doc_id"] for r in out] == [2]
    assert out[0]["fp"] == _ref_fp(2)


def test_audio_stratum_selfcheck_pins_script(spark):
    """Pin the sf1 stratum self-check's machinery at sf0.01 for the
    audio family: the shared fingerprint builder +
    hamming_band_selfcheck the script (scripts/phash_stratum_check.py
    --family audio) runs at sf1 must find a NON-EMPTY brute set and
    zero missing/extra pairs.  Modulus 5 keeps whole content groups
    (doc_id % 100) aligned inside the stratum, the same residue trick
    as the phash family."""
    from cassandra_join_library_spark.operators.dedup import (
        hamming_band_selfcheck,
    )
    from cassandra_join_library_spark.queries.multimodal import (
        _audio_fingerprints,
    )
    from .conftest import SF_ORACLE

    fps = _audio_fingerprints(spark, SF_ORACLE)
    out = hamming_band_selfcheck(
        fps, bits=60, max_hamming=2,
        stratum=(F.col("doc") % 5 == 2))
    assert out["missing"] == 0 and out["extra"] == 0
    assert out["brute_pairs"] > 0, "vacuous stratum — no planted pairs"
    assert out["brute_pairs"] == out["banded_pairs_in_stratum"]
    assert out["stratum_docs"] > 0
