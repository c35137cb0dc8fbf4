"""Wave-22 unit tests: subtitle alignment vs interval math, span
corruption vs a Python replay, IVF recall consistency, and histogram
drift conservation."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _expected_align(doc_id: int):
    cues = [(k * 2000 + doc_id % 500, k * 2000 + doc_id % 500 + 1500)
            for k in range(doc_id % 4 + 1)]
    frames = [j * 900 + doc_id % 300 for j in range(doc_id % 6 + 2)]
    matched = sum(1 for t in frames
                  if any(s <= t < e for s, e in cues))
    return len(cues), len(frames), matched


def test_subtitle_align_matches_interval_math(spark):
    from cassandra_join_library_spark.queries.multimodal import (
        mm_subtitle_align,
    )

    rows = {r["doc_id"]: r for r in mm_subtitle_align(spark, SF).collect()}
    assert len(rows) > 0
    for i, r in rows.items():
        n_cues, n_frames, matched = _expected_align(i)
        assert r["n_cues"] == n_cues, i
        assert r["n_frames"] == n_frames, i
        assert r["n_matched"] == matched, i
        assert r["n_orphaned"] == n_frames - matched, i
    # the 500ms inter-cue gaps orphan SOME frame somewhere
    assert any(r["n_orphaned"] > 0 for r in rows.values())


def _mask(doc_id: int, pos: int) -> bool:
    h = int(hashlib.md5(f"{doc_id}_{pos}".encode()).hexdigest()[:15], 16)
    return h % 100 < 15


def test_span_corruption_matches_python_replay(spark):
    from cassandra_join_library_spark.queries.corpus import (
        corpus_span_corruption,
    )

    rows = {r["doc_id"]: r for r in
            corpus_span_corruption(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(25).collect()
    for d in docs:
        toks = d["text"].split(" ")
        masked = [p for p in range(len(toks)) if _mask(d["doc_id"], p)]
        spans, prev = 0, None
        max_len = cur = 0
        for p in masked:
            if prev is None or p != prev + 1:
                spans += 1
                cur = 0
            cur += 1
            max_len = max(max_len, cur)
            prev = p
        r = rows[d["doc_id"]]
        assert r["n_tokens"] == len(toks), d["doc_id"]
        assert r["n_masked"] == len(masked), d["doc_id"]
        assert r["n_spans"] == spans, d["doc_id"]
        assert r["max_span_len"] == max_len, d["doc_id"]
        assert 0 <= r["mask_ppm"] <= 1_000_000


def test_ivf_recall_consistent_with_component_queries(spark):
    from cassandra_join_library_spark.queries.vectors import (
        ann_ivf_topk, ann_topk_bruteforce,
    )
    from cassandra_join_library_spark.queries.vectors import (
        ann_ivf_recall_audit,
    )

    audit = {r["query_id"]: r for r in
             ann_ivf_recall_audit(spark, SF).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ann_ivf_topk(spark, SF).collect()}
    brute = {}
    for r in ann_topk_bruteforce(spark, SF).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, truth in brute.items():
        hits = sum(1 for n in truth if (q, n) in ivf)
        assert audit[q]["k_true"] == len(truth), q
        assert audit[q]["n_hits"] == hits, q
        want = (2 * 1_000_000 * hits + len(truth)) // (2 * len(truth))
        assert audit[q]["recall_ppm"] == want, q


def test_histogram_drift_conserves_mass(spark):
    from cassandra_join_library_spark.queries.stats import (
        profile_histogram_l1_drift,
    )

    rows = profile_histogram_l1_drift(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    na = docs.filter(F.col("doc_id") % 2 == 0).count()
    nb = docs.filter(F.col("doc_id") % 3 != 1).count()
    assert sum(r["ca"] for r in rows) == na
    assert sum(r["cb"] for r in rows) == nb
    # rounded shares sum to ~1e6 (off by at most one per bucket)
    assert abs(sum(r["pa_ppm"] for r in rows) - 1_000_000) <= len(rows)
    assert abs(sum(r["pb_ppm"] for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r["l1_contrib_ppm"] == abs(r["pa_ppm"] - r["pb_ppm"])
