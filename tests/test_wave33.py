"""Wave-33 operator edges: image perceptual-hash dedup — BMP pixel
round-trip, integer aHash semantics, corrupt-input behavior, and the
exact pigeonhole radius cut."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from cassandra_join_library_spark.operators.dedup import hamming_band_pairs
from cassandra_join_library_spark.operators.multimodal import (
    bmp_ahash, synthesize_bmp_pixels,
)
from cassandra_join_library_spark.sources.catalog import local_frame


def _ids(spark, ids):
    return local_frame(spark, [Row(doc_id=i) for i in ids])


def test_bmp_pixels_roundtrip_bytes(spark):
    """The synthesized payload is a spec-conformant 246-byte BMP and
    the decoded lumas equal the synthesis formula."""
    out = synthesize_bmp_pixels(_ids(spark, [7]), "doc_id",
                                n_groups=100).collect()[0]
    payload = bytes(out["payload"])
    assert len(payload) == 246
    assert payload[:2] == b"BM"
    assert int.from_bytes(payload[2:6], "little") == 246
    assert int.from_bytes(payload[10:14], "little") == 54
    assert int.from_bytes(payload[18:22], "little") == 8   # width
    assert int.from_bytes(payload[22:26], "little") == 8   # height
    g, v = 7 % 100, (7 // 100) % 3
    for i in range(64):
        expected = (g * 37 + i * 29) % 160 + 40
        b, gr, r = payload[54 + 3 * i: 54 + 3 * i + 3]
        assert b == gr == r == expected, i


def test_ahash_matches_python_reference(spark):
    """The integer aHash equals a driver-side reference for exact,
    retouched, and heavily-edited variants."""
    df = synthesize_bmp_pixels(_ids(spark, [3, 103, 203, 303]),
                               "doc_id", n_groups=100)
    got = {r["doc_id"]: r["ahash"]
           for r in bmp_ahash(df, "doc_id").collect()}

    def ref(doc_id):
        g, v = doc_id % 100, (doc_id // 100) % 3
        lum = [(g * 37 + i * 29) % 160 + 40
               + (56 if (v == 1 and i == 0) or (v == 2 and i < 4) else 0)
               for i in range(64)]
        total = sum(lum)
        return sum(1 << i for i in range(60) if lum[i] * 64 > total)

    for doc_id, h in got.items():
        assert h == ref(doc_id), doc_id
    # ids 3 and 303 share g=3 with v=0 -> identical image, identical hash
    assert got[3] == got[303]


def test_ahash_corrupt_payload_flags_not_errors(spark):
    """Non-BMP / truncated payloads yield is_bmp=false and NULL hash."""
    rows = [Row(doc_id=1, payload=b"not a bitmap"),
            Row(doc_id=2, payload=b"BM" + b"\x00" * 20)]
    out = {r["doc_id"]: r for r in bmp_ahash(
        local_frame(spark, rows), "doc_id").collect()}
    for r in out.values():
        assert r["is_bmp"] is False
        assert r["ahash"] is None


def test_hamming_band_pairs_exact_radius(spark):
    """The pigeonhole join finds EVERY pair within the radius and
    nothing outside it — checked against brute force on fingerprints
    engineered to straddle the cut."""
    fps = local_frame(spark, [
        Row(doc=1, fp=0b111),        # hamming(1,2)=1, (1,3)=3
        Row(doc=2, fp=0b110),
        Row(doc=3, fp=0b1111000),
        Row(doc=4, fp=0b1111000),    # exact dup of 3
    ], "doc bigint, fp bigint")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in hamming_band_pairs(fps, bits=60,
                                       max_hamming=2).collect()}
    vals = {1: 0b111, 2: 0b110, 3: 0b1111000, 4: 0b1111000}
    want = {}
    for a in vals:
        for b in vals:
            if a < b:
                h = bin(vals[a] ^ vals[b]).count("1")
                if h <= 2:
                    want[(a, b)] = h
    assert got == want


@pytest.mark.parametrize("by_value", [False, True],
                         ids=["by_doc", "by_value"])
def test_hamming_band_pairs_matches_bruteforce_property(spark, by_value):
    """Property: on seeded random 60-bit fingerprints the pigeonhole
    join equals brute force exactly, for several radii, whether the
    band join runs over docs or over distinct fingerprint values.  One
    exact-duplicate fingerprint drives the by-value same-value
    branch."""
    import random

    rng = random.Random(2026)
    for max_h in (1, 2, 3):
        base = [rng.getrandbits(60) for _ in range(12)]
        # seed near-dups: perturb a few fingerprints by <= max_h bits
        fps = list(base)
        for i in range(0, 12, 3):
            fp = base[i]
            for _ in range(rng.randint(0, max_h)):
                fp ^= 1 << rng.randrange(60)
            fps.append(fp)
        fps.append(base[1])
        rows = [Row(doc=i, fp=v) for i, v in enumerate(fps)]
        got = {(r["doc_a"], r["doc_b"]): r["hamming"]
               for r in hamming_band_pairs(
                   local_frame(spark, rows, "doc bigint, fp bigint"),
                   bits=60, max_hamming=max_h,
                   by_value=by_value).collect()}
        want = {}
        for a in range(len(fps)):
            for b in range(a + 1, len(fps)):
                h = bin(fps[a] ^ fps[b]).count("1")
                if h <= max_h:
                    want[(a, b)] = h
        assert got == want, max_h


def test_distributed_compare_detects_divergence(spark, duck):
    """The collect-free comparator must be able to FAIL: against an
    oracle with one extra row it must raise on the row count, and
    against an oracle with one changed value (same row count) it must
    raise on the hash sum — a comparator that cannot fail proves
    nothing."""
    from cassandra_join_library_spark.parity import (
        _duck_hash_agg, _spark_hash_agg,
    )
    from cassandra_join_library_spark.registry import all_oracles, all_queries
    from .conftest import SF_ORACLE

    name = "join_full"
    sn, sh = _spark_hash_agg(
        all_queries()[name](spark, SF_ORACLE), {})
    oracle = all_oracles()[name]
    # same count, one value perturbed -> hash must differ
    perturbed = oracle.replace(
        "s.s_suppkey AS supplier_s_suppkey",
        "s.s_suppkey + CASE WHEN s.s_suppkey = 1 THEN 1 ELSE 0 END"
        " AS supplier_s_suppkey")
    dn, dh = _duck_hash_agg(duck, perturbed, {})
    assert dn == sn and dh != sh
    # one extra row -> count must differ
    wrapped = (f"SELECT * FROM ({oracle}) UNION ALL "
               f"SELECT * FROM ({oracle}) LIMIT {sn + 1}")
    dn2, _ = _duck_hash_agg(duck, wrapped, {})
    assert dn2 == sn + 1 != sn


def test_phash_stratum_selfcheck_pins_script(spark):
    """Pin the sf1 stratum self-check's machinery at sf0.01: the same
    shared fingerprint builder + hamming_band_selfcheck the script
    (scripts/phash_stratum_check.py) runs at sf1 must find a NON-EMPTY
    brute set (a stratum that misses every planted duplicate would
    vacuously pass) and zero missing/extra pairs.  Modulus 5 keeps
    whole content groups (doc_id % 100) aligned inside the stratum,
    exactly the residue trick the sf1 run relies on."""
    from cassandra_join_library_spark.operators.dedup import (
        hamming_band_selfcheck,
    )
    from cassandra_join_library_spark.queries.wave33 import (
        _phash_fingerprints,
    )
    from .conftest import SF_ORACLE

    fps = _phash_fingerprints(spark, SF_ORACLE)
    out = hamming_band_selfcheck(
        fps, bits=60, max_hamming=2,
        stratum=(F.col("doc") % 5 == 2))
    assert out["missing"] == 0 and out["extra"] == 0
    assert out["brute_pairs"] > 0, "vacuous stratum — no planted pairs"
    assert out["brute_pairs"] == out["banded_pairs_in_stratum"]
    assert out["stratum_docs"] > 0
