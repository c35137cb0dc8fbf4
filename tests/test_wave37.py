"""Wave-37 operator edges: video keyframe-fingerprint dedup — MP4
box-layout byte round-trip, the fold-walk to `mdat`, per-frame aHash
semantics, the grouped (frame-keyed) Hamming band join, and the sf1
stratum self-check machinery pinned locally."""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Row, functions as F

from cassandra_join_library_spark.operators.multimodal import (
    mp4_keyframe_ahash, synthesize_mp4_keyframes,
)
from cassandra_join_library_spark.sources.catalog import local_frame


def _ids(spark, ids):
    return local_frame(spark, [Row(doc_id=i) for i in ids])


def _luma(g: int, v: int, f: int, i: int) -> int:
    base = int(hashlib.md5(f"{g}_{f}_{i}".encode()).hexdigest()[:2],
               16) % 160 + 40
    if (v == 1 and f == 0 and i == 0) or (v == 2 and i < 4):
        base += 56
    return base


def _ref_payload(doc_id: int) -> bytes:
    g, v = doc_id % 100, (doc_id // 100) % 3
    nc = g % 3
    out = (struct.pack(">I", 16 + 4 * nc) + b"ftyp" + b"isom"
           + bytes.fromhex("00000200") + b"isom" * nc)
    if g % 2 == 0:
        fl = (g * 7 + v) % 16
        out += struct.pack(">I", 8 + fl) + b"free" + b"\x00" * fl
    out += struct.pack(">I", 8 + 256) + b"mdat"
    out += bytes(_luma(g, v, f, i) for f in range(4) for i in range(64))
    return out


def _ref_fp(doc_id: int, f: int) -> int:
    g, v = doc_id % 100, (doc_id // 100) % 3
    lumas = [_luma(g, v, f, i) for i in range(64)]
    total = sum(lumas)
    return sum(1 << i for i in range(60) if lumas[i] * 64 > total)


def test_mp4_keyframes_roundtrip_bytes(spark):
    """The synthesized payload is a box-chained ISO-BMFF stream whose
    mdat carries the 4x64 md5-formula lumas — checked byte for byte
    against an independent Python build, across the three box-layout
    shapes (brand tail 0-2, free present/absent)."""
    for doc_id in (0, 1, 2, 103, 250):   # g covers %3 and %2 cases
        out = synthesize_mp4_keyframes(
            _ids(spark, [doc_id]), "doc_id").collect()[0]
        assert bytes(out["payload"]) == _ref_payload(doc_id), doc_id


def test_keyframe_ahash_matches_python_reference(spark):
    """The per-frame aHash equals a driver-side reference for master,
    retouched, and re-graded variants — and the exact-duplicate pair
    (same g, same v) hashes identically on every frame."""
    clips = synthesize_mp4_keyframes(_ids(spark, [0, 100, 200, 300]),
                                     "doc_id")
    got = {(r["doc_id"], r["frame"]): r["fp"]
           for r in mp4_keyframe_ahash(clips, "doc_id").collect()}
    assert set(got) == {(d, f) for d in (0, 100, 200, 300)
                        for f in range(4)}
    for (doc_id, f), fp in got.items():
        assert fp == _ref_fp(doc_id, f), (doc_id, f)
    # ids 0 and 300 share g=0 with v=0 -> identical bytes, per-frame
    # identical fingerprints
    for f in range(4):
        assert got[(0, f)] == got[(300, f)]
    # the v=1 retouch only touches frame 0: frames 1-3 identical
    for f in range(1, 4):
        assert got[(0, f)] == got[(100, f)]


def test_keyframe_ahash_drops_non_mp4(spark):
    """Payloads without ftyp magic — or with a box chain that never
    reaches an adequate mdat — are dropped, not NULLed or mis-hashed
    (corrupt inputs are data; a mixed-modality corpus must not grow
    garbage video fingerprints)."""
    fake = _ids(spark, [7]).select(
        "doc_id", F.unhex(F.lit("FF" * 300)).alias("payload"))
    # valid ftyp but the only other box is a tiny mdat: walk succeeds,
    # size guard rejects
    tiny = (struct.pack(">I", 16) + b"ftyp" + b"isom"
            + bytes.fromhex("00000200")
            + struct.pack(">I", 8 + 64) + b"mdat" + b"\x00" * 64)
    short = _ids(spark, [8]).select(
        "doc_id", F.unhex(F.lit(tiny.hex())).alias("payload"))
    ok = synthesize_mp4_keyframes(_ids(spark, [2]), "doc_id")
    out = mp4_keyframe_ahash(
        fake.unionByName(short).unionByName(ok), "doc_id").collect()
    assert sorted(r["doc_id"] for r in out) == [2, 2, 2, 2]


def test_grouped_band_pairs_respect_frames(spark):
    """hamming_band_pairs(group_col=...) only pairs rows whose group
    matches: identical fingerprints on DIFFERENT frames never pair,
    and the output carries the group column."""
    from cassandra_join_library_spark.operators.dedup import (
        hamming_band_pairs,
    )

    fps = local_frame(spark, [
        Row(doc=1, frame=0, fp=0b1010),
        Row(doc=2, frame=0, fp=0b1010),   # same frame, hamming 0
        Row(doc=3, frame=1, fp=0b1010),   # same fp, other frame
        Row(doc=4, frame=1, fp=0b1011),   # hamming 1 vs doc 3
    ])
    got = sorted(
        (r["frame"], r["doc_a"], r["doc_b"], r["hamming"])
        for r in hamming_band_pairs(fps, bits=60, max_hamming=2,
                                    group_col="frame").collect())
    assert got == [(0, 1, 2, 0), (1, 3, 4, 1)]


def test_video_stratum_selfcheck_pins_script(spark):
    """Pin the sf1 stratum self-check's machinery at sf0.01 for the
    video family: the shared fingerprint builder +
    hamming_band_selfcheck with group_col="frame" (what
    scripts/phash_stratum_check.py --family video runs at sf1) must
    find a NON-EMPTY brute set and zero missing/extra pairs.  Modulus
    5 keeps whole content groups (doc_id % 100) aligned inside the
    stratum, the same residue trick as the phash/audio families."""
    from cassandra_join_library_spark.operators.dedup import (
        hamming_band_selfcheck,
    )
    from cassandra_join_library_spark.queries.multimodal import (
        _video_fingerprints,
    )
    from .conftest import SF_ORACLE

    fps = _video_fingerprints(spark, SF_ORACLE)
    out = hamming_band_selfcheck(
        fps, bits=60, max_hamming=2,
        stratum=(F.col("doc") % 5 == 2), group_col="frame")
    assert out["brute_pairs"] > 0
    assert out["missing"] == 0 and out["extra"] == 0
