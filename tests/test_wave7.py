"""Wave-7 operator tests: CDC chunking properties, PCM stats against
an independent struct.unpack decoder, BFS on a hand graph, and
l-diversity/zone-map edge semantics."""

import struct

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.graph import bfs_hops
from cassandra_join_library_spark.operators.multimodal import (
    pcm_stats,
    synthesize_wav_pcm,
)
from cassandra_join_library_spark.operators.profiling import l_diversity
from cassandra_join_library_spark.operators.text import cdc_chunks

from .background import heavy_check


def test_cdc_chunks_reassemble(spark):
    """Chunks must partition the document: concatenating chunk_text in
    chunk_idx order reproduces the original byte-for-byte, and starts/
    lengths tile [1, n] with no gap or overlap."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a",
        "abc",
        "x" * 200,
        "hello world " * 17,
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    out = cdc_chunks(df, "doc_id", "text").orderBy("doc_id", "chunk_idx")
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for i, t in enumerate(texts):
        chunks = by_doc[i]
        assert "".join(c.chunk_text for c in chunks) == t
        pos = 1
        for c in chunks:
            assert c.chunk_start == pos
            assert c.chunk_len == len(c.chunk_text)
            pos += c.chunk_len
        assert pos == len(t) + 1


def test_cdc_chunks_edit_locality(spark):
    """The content-defined property: appending a suffix must leave
    every fully-interior earlier chunk identical (only the final chunk
    and the new tail may differ) — the robustness fixed-stride
    chunking lacks."""
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    edited = base + " plus an appended tail of new content"
    df = spark.createDataFrame(
        [Row(doc_id=0, text=base), Row(doc_id=1, text=edited)])
    out = cdc_chunks(df, "doc_id", "text").orderBy("doc_id", "chunk_idx")
    a = [r.chunk_text for r in out.collect() if r.doc_id == 0]
    b = [r.chunk_text for r in out.collect() if r.doc_id == 1]
    # all but the last chunk of the shorter doc must reappear verbatim
    assert b[: len(a) - 1] == a[:-1]


def test_pcm_stats_matches_struct_unpack(spark):
    """Cross-check the byte-level SQL decode against an INDEPENDENT
    decoder: struct.unpack over the very payload bytes the operator
    produced."""
    df = spark.createDataFrame([Row(doc_id=i) for i in (0, 1, 7, 1023)])
    built = synthesize_wav_pcm(df, "doc_id", n_samples=64)
    payloads = {r.doc_id: bytes(r.payload) for r in built.collect()}
    got = {r.doc_id: r for r in pcm_stats(built, "doc_id").collect()}
    for doc_id, raw in payloads.items():
        assert raw[:4] == b"RIFF" and raw[8:12] == b"WAVE"
        (data_size,) = struct.unpack("<I", raw[40:44])
        samples = struct.unpack(f"<{data_size // 2}h", raw[44:44 + data_size])
        expect = [
            ((doc_id * 31 + i * 17) % 65536) - 32768 for i in range(64)]
        assert list(samples) == expect
        r = got[doc_id]
        assert r.n_samples == len(samples)
        assert r.sum_samples == sum(samples)
        assert r.sum_squares == sum(s * s for s in samples)
        assert r.peak_abs == max(abs(s) for s in samples)


@heavy_check("wave7_bfs_hand_graph")
def _bfs_hand_graph(spark):
    nodes = spark.createDataFrame(
        [Row(nt="n", id=i) for i in range(5)])
    und = [(0, 1), (1, 2), (2, 3)]
    edges = spark.createDataFrame(
        [Row(src_t="n", src=a, dst_t="n", dst=b) for a, b in und]
        + [Row(src_t="n", src=b, dst_t="n", dst=a) for a, b in und])
    seeds = nodes.filter(F.col("id") == 0)
    h3 = {r.hop: r.n_nodes for r in
          bfs_hops(nodes, edges, seeds, max_hops=3).collect()}
    h2 = {r.hop: r.n_nodes for r in
          bfs_hops(nodes, edges, seeds, max_hops=2).collect()}
    return h3, h2


def test_bfs_hops_hand_graph(heavy_results):
    """Path graph a-b-c-d plus isolated e, seed {a}: hops 0,1,2,3 —
    and with max_hops=2 node d is unreached (-1)."""
    h3, h2 = heavy_results("wave7_bfs_hand_graph")
    assert h3 == {-1: 1, 0: 1, 1: 1, 2: 1, 3: 1}
    assert h2 == {-1: 2, 0: 1, 1: 1, 2: 1}


def test_l_diversity_flags_homogeneous_class(spark):
    """A class can be k-large yet 1-diverse — exactly what the audit
    must flag."""
    rows = (
        [Row(qa="a", s="x")] * 5            # large but homogeneous
        + [Row(qa="b", s="x"), Row(qa="b", s="y"), Row(qa="b", s="z")]
    )
    out = {r.qa: r for r in
           l_diversity(spark.createDataFrame(rows), ["qa"], "s")
           .collect()}
    assert out["a"].class_size == 5 and out["a"].l_diversity == 1
    assert out["a"].at_risk and out["a"].dominant_share == 1.0
    assert out["b"].l_diversity == 3 and not out["b"].at_risk
