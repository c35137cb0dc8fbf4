"""Invariant tests for the round-5 curation operators — properties
beyond what the DuckDB value oracle checks: survivor-set semantics,
cap bounds under re-partitioning, BM25 monotonicity, centroid shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators import corpus as C
from cassandra_join_library_spark.operators import dedup as D
from cassandra_join_library_spark.operators import similarity as S
from cassandra_join_library_spark.sources.catalog import load_table
from cassandra_join_library_spark.sources.catalog import local_frame

from .background import heavy_check
from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


# ---- background heavy checks (~10 s combined, deterministic)

@heavy_check("curation_survivors_payload")
def _survivors_payload(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = D.jaccard_pairs_exact(docs, "doc_id", "text", n=5, threshold=0.5)
    clusters = D.duplicate_clusters(pairs).persist()
    surv = D.dedup_survivors(
        docs.select("doc_id", "n_chars"), clusters, "doc_id", "n_chars"
    ).persist()
    rows = [r.asDict() for r in surv.collect()]
    n_docs = docs.count()
    n_clustered_docs = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    member_best = {
        r["cluster_id"]: (r["best_len"], r["best_id"])
        for r in (
            docs.join(clusters, "doc_id")
            .groupBy("cluster_id")
            .agg(
                F.max("n_chars").alias("best_len"),
                F.min_by("doc_id", F.struct(F.col("n_chars"),
                                            -F.col("doc_id"))).alias("best_id"),
            )
        ).collect()
    }
    surv.unpersist()
    clusters.unpersist()
    return rows, n_docs, n_clustered_docs, n_clusters, member_best


@heavy_check("curation_semantic_dedup_payload")
def _semantic_dedup_payload(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = S.semantic_dedup(emb, "vec_id", "embedding",
                           dim=64, n_planes=6, threshold=0.4)
    rows = {r["vec_id"]: r.asDict() for r in out.collect()}
    exact = {
        frozenset((r["id_a"], r["id_b"]))
        for r in S.cosine_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    return rows, exact, emb.count()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_dedup_survivors_partition_semantics(heavy_results):
    """One survivor per cluster; singletons pass through; survivor is
    the longest member (ties -> lowest id); sizes sum to corpus size."""
    rows, n_docs, n_clustered_docs, n_clusters, member_best = (
        heavy_results("curation_survivors_payload"))
    # one row per distinct cluster (clustered ones + singletons)
    assert len(rows) == n_docs - n_clustered_docs + n_clusters
    # cluster ids unique among survivors; sizes partition the corpus
    assert len({r["cluster_id"] for r in rows}) == len(rows)
    assert sum(r["cluster_size"] for r in rows) == n_docs
    # the survivor dominates every member on (n_chars DESC, doc_id ASC)
    for r in rows:
        if r["cluster_size"] > 1:
            assert r["n_chars"] == member_best[r["cluster_id"]][0]


def test_cap_per_group_bounds_and_stability(spark, docs):
    capped = C.cap_per_group(
        docs.select("doc_id", "source", "n_chars"), "source", "n_chars",
        "doc_id", k=5,
    )
    per_group = capped.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per_group)
    # deterministic under re-partitioning (same kept set)
    again = C.cap_per_group(
        docs.select("doc_id", "source", "n_chars").repartition(13),
        "source", "n_chars", "doc_id", k=5,
    )
    assert {r["doc_id"] for r in capped.collect()} == {
        r["doc_id"] for r in again.collect()
    }


def test_bm25_scores_positive_and_tf_monotonic(spark, docs):
    out = C.bm25_search(
        docs, "doc_id", "text", query_terms=["join", "hash"], k=1000
    ).collect()
    assert out and all(r["score"] > 0 for r in out)
    assert all(1 <= r["n_matched"] <= 2 for r in out)
    # a doc matching both terms with higher tf should not rank below a
    # same-length doc matching one term once — spot-check the ordering
    # is by score descending
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_label_centroids_shape_and_bounds(spark, emb):
    cent = S.label_centroids(emb, "embedding", "label").persist()
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert len(dims) == 1
    d = dims[0]["d"]
    n_labels = emb.select("label").distinct().count()
    assert cent.count() == n_labels * d
    # per-label count matches member count; means inside member range
    counts = {r["label"]: r["cnt"] for r in
              emb.groupBy("label").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for r in cent.select("label", "n_vecs").distinct().collect():
        assert counts[r["label"]] == r["n_vecs"]
    bounds = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    joined = cent.join(bounds, ["label", "pos"]).collect()
    for r in joined:
        assert r["lo"] - 1e-6 <= r["mean_val"] <= r["hi"] + 1e-6
    cent.unpersist()


def test_normalized_dedup_collapses_variants(spark, docs):
    from cassandra_join_library_spark.operators import text as T

    base = docs.select("doc_id", "text")
    variants = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("?! ")).alias("text"),
    )
    groups = T.exact_dedup_normalized(
        base.unionAll(variants), "doc_id", "text"
    ).collect()
    # every original doc pairs with exactly its variant; keep_id is the
    # original (lower) id
    n_docs = base.count()
    n_distinct_texts = base.select("text").distinct().count()
    assert len(groups) == n_distinct_texts
    assert sum(r["n_dups"] for r in groups) == 2 * n_docs
    assert all(r["keep_id"] < 10_000 for r in groups)
    # plain exact dedup on the same union finds NOTHING (casing differs)
    from cassandra_join_library_spark.operators import dedup as D

    plain = D.exact_dedup(base.unionAll(variants), "doc_id", ["text"])
    assert plain.filter(F.col("n_copies") >= 2).count() == 0


def test_ngram_novelty_bounds_and_short_docs(spark, docs):
    from cassandra_join_library_spark.operators import dedup as D

    nov = D.ngram_novelty(docs, "doc_id", "text", n=5).collect()
    assert all(0.0 <= r["novelty"] <= 1.0 for r in nov)
    assert all(0 <= r["n_novel"] <= r["n_shingles"] for r in nov)
    # docs with >= 5 words all appear; shorter ones never do
    n_long = docs.filter(F.size(F.split("text", " ")) >= 5).count()
    assert len(nov) == n_long


def test_hard_negatives_excludes_same_label(spark, emb):
    from cassandra_join_library_spark.operators import similarity as S

    out = S.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 5), k=3
    ).collect()
    assert out
    assert all(r["query_label"] != r["neighbor_label"] for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_normalize_text_idempotent_and_charset(spark):
    """Property: normalization is idempotent and its output alphabet
    is exactly [a-z0-9 ] with single spaces — on adversarial strings,
    not just the pre-normalized corpus."""
    from cassandra_join_library_spark.operators import text as T

    rows = [
        (1, "  Hello,   WORLD!!  "),
        (2, "a\tb\nc"),
        (3, "...."),
        (4, ""),
        (5, "MiXeD CaSe 123 #tag @user"),
        (6, "unicode: café naïve 中文"),
    ]
    df = local_frame(spark, rows, "doc_id bigint, text string")
    once = T.normalize_text(df, "doc_id", "text")
    twice = T.normalize_text(
        once.select("doc_id", F.col("norm_text").alias("text")),
        "doc_id", "text",
    )
    a = {r["doc_id"]: r["norm_text"] for r in once.collect()}
    b = {r["doc_id"]: r["norm_text"] for r in twice.collect()}
    assert a == b, "normalization must be idempotent"
    import re
    for v in a.values():
        assert re.fullmatch(r"([a-z0-9]+( [a-z0-9]+)*)?", v), repr(v)


def test_global_row_numbers_total_order_and_stability(spark, docs):
    """row_id must equal the total-order rank regardless of the input
    partitioning, be dense 0..n-1, and never global-sort the data (the
    only unpartitioned window runs over #partitions count rows)."""
    base = docs.select("doc_id", "n_chars")
    out = C.global_row_numbers(
        base.repartition(13),
        order_cols=[F.desc("n_chars"), F.asc("doc_id")],
        range_cols=[F.desc("n_chars"), F.asc("doc_id")],
    ).collect()
    n = len(out)
    assert sorted(r["row_id"] for r in out) == list(range(n))
    ranked = sorted(out, key=lambda r: (-r["n_chars"], r["doc_id"]))
    assert [r["row_id"] for r in ranked] == list(range(n))


def test_snapshot_diff_invariants(spark, docs):
    base = docs.select("doc_id", "text")
    # identical snapshots -> empty delta
    assert C.snapshot_diff(base, base, "doc_id", ["text"]).count() == 0
    # constructed delta: statuses land exactly where they should
    v2 = base.filter(F.col("doc_id") % 5 != 0).unionAll(
        base.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 50_000).alias("doc_id"), "text"
        )
    )
    d = {r["doc_id"]: r["status"]
         for r in C.snapshot_diff(base, v2, "doc_id", ["text"]).collect()}
    old_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    for i, st in d.items():
        if st == "removed":
            assert i % 5 == 0 and i in old_ids
        elif st == "added":
            assert i >= 50_000
        else:
            raise AssertionError(f"unexpected status {st} for {i}")
    assert sum(1 for s in d.values() if s == "removed") == \
        base.filter(F.col("doc_id") % 5 == 0).count()


@heavy_check("curation_bmp_payload")
def _bmp_payload(spark):
    from cassandra_join_library_spark.operators import multimodal as M

    docs = load_table(spark, SF_SMOKE, "documents")
    built = M.synthesize_bmp(docs.select("doc_id").limit(10), "doc_id")
    good = [r.asDict() for r in
            M.parse_bmp_metadata(built, "doc_id").collect()]
    bad = [r.asDict() for r in M.parse_bmp_metadata(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        .limit(10),
        "doc_id",
    ).collect()]
    trunc = [r.asDict() for r in M.parse_bmp_metadata(
        built.select("doc_id",
                     F.expr("substring(payload, 1, 10)").alias("payload")),
        "doc_id",
    ).collect()]
    return good, bad, trunc


def test_bmp_parser_rejects_non_bmp(heavy_results):
    good, bad, trunc = heavy_results("curation_bmp_payload")
    assert all(r["is_bmp"] and r["bpp"] == 24 for r in good)
    # corrupt payloads (text bytes / truncated header) parse as non-BMP
    # with NULL fields, never an error
    assert all(not r["is_bmp"] and r["bmp_width"] is None for r in bad)
    assert all(not r["is_bmp"] for r in trunc)


def test_gopher_rules_verdict_consistency(spark, docs):
    """passes_gopher == AND of the six rule booleans, and each rule
    boolean agrees with re-deriving it from the metric columns."""
    from cassandra_join_library_spark.operators import text as T

    out = T.gopher_rules(docs, "doc_id", "text").collect()
    assert len(out) == docs.count()
    for r in out:
        rules = [
            r["rule_word_count"], r["rule_mean_word_len"],
            r["rule_alpha_words"], r["rule_stopwords"],
            r["rule_top_word"], r["rule_symbol_ratio"],
        ]
        assert r["passes_gopher"] == all(rules)
        assert r["rule_word_count"] == (50 <= r["n_words"] <= 100_000)
        assert r["rule_top_word"] == (r["top_word_ratio"] <= 0.20)
        # pure-alpha single-space corpus: alpha fraction is exactly 1
        assert r["alpha_word_frac"] == 1.0
        assert 0.0 < r["top_word_ratio"] <= 1.0


def test_semantic_dedup_drop_set_vs_exact_pairs(heavy_results):
    """Dropped => a lower-id same-bucket neighbor at >= threshold
    exists; every dropped id also appears in the EXACT pair set (the
    bucketing can only miss pairs, never invent them); n_close
    consistency."""
    rows, exact, n_emb = heavy_results("curation_semantic_dedup_payload")
    assert len(rows) == n_emb
    exact_ids = set().union(*exact) if exact else set()
    dropped = {v for v, r in rows.items() if r["dropped"]}
    assert dropped, "threshold 0.4 should drop at least one vector"
    assert dropped <= exact_ids
    for v, r in rows.items():
        if r["dropped"]:
            assert r["n_close"] >= 1
        if r["n_close"] == 0:
            assert not r["dropped"]


def test_radius_search_consistent_with_topk(spark, emb):
    """Every top-k hit above the radius threshold appears in the
    radius result with the same score; radius never returns below
    threshold."""
    queries = emb.filter(F.col("vec_id") < 10)
    radius = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in S.radius_search(
            emb, queries, "vec_id", "embedding", threshold=0.35
        ).collect()
    }
    assert all(v >= 0.35 for v in radius.values())
    topk = S.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5
    ).collect()
    for r in topk:
        if r["cosine_sim"] >= 0.35:
            key = (r["query_id"], r["neighbor_id"])
            assert key in radius and radius[key] == r["cosine_sim"]


def test_token_budget_plan_bounds(spark, docs):
    """Fractions in (0, 1]; expected tokens never exceed supply or
    (by more than rounding) the target; epochs >= 1 and > 1 only when
    the target exceeds the supply."""
    out = C.token_budget_plan(docs, "text", "source",
                              budget_tokens=100_000).collect()
    assert len(out) == docs.select("source").distinct().count()
    total_weight = sum(r["target_weight"] for r in out)
    assert abs(total_weight - 1.0) < 1e-3
    for r in out:
        assert 0.0 < r["sample_frac"] <= 1.0
        assert r["expected_tokens"] <= r["n_tokens"]
        assert r["epochs"] >= 1
        if r["target_tokens"] <= r["n_tokens"]:
            assert r["epochs"] == 1
            # expected ~= target (rounding of the fraction only)
            assert abs(r["expected_tokens"] - r["target_tokens"]) \
                <= r["n_tokens"] * 1e-5 + 1
        else:
            assert r["sample_frac"] == 1.0
            assert r["epochs"] > 1


def test_c4_line_filter_semantics(spark):
    """Kept lines survive verbatim in order; short/unpunctuated/
    boilerplate lines go; doc dropped iff < 3 lines survive."""
    from cassandra_join_library_spark.operators import text as T

    rows = [
        (1, "this line has five good words.\nshort line.\n"
            "another perfectly reasonable line right here!\n"
            "a line that simply does not end\n"
            "we saw some lorem ipsum boilerplate here.\n"
            "final valid sentence with enough words?"),
        (2, "only one good line in this document.\nbad\nbad"),
    ]
    df = local_frame(spark, rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in
           T.c4_line_filter(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1["n_lines"] == 6 and r1["n_kept"] == 3
    assert r1["filtered_text"].split("\n") == [
        "this line has five good words.",
        "another perfectly reasonable line right here!",
        "final valid sentence with enough words?",
    ]
    assert not r1["dropped"]
    r2 = out[2]
    assert r2["n_kept"] == 1 and r2["dropped"]


def test_rdiv_macros_survive_subtraction_context(spark):
    """Regression (r12 sf0.1 sweep): the rounded-division macros must
    be OUTER-parenthesized — embedded after a binary minus, an
    unparenthesized `x div y + CASE...` distributes the minus over
    only the division term and ADDS the rounding correction (the
    profile_histogram_l1_drift oracle bug).  10 - rdiv(3, 2) must be
    10 - 2 = 8, not 10 - 1 + 1 = 10."""
    import duckdb

    from cassandra_join_library_spark.operators.basket import (
        _RDIV as _RDIV_B,
    )
    from cassandra_join_library_spark.operators.graph import _RDIV as _RDIV_G
    from cassandra_join_library_spark.operators.stats import _RDIV
    from cassandra_join_library_spark.queries._shared import _rdiv_sql

    for macro in (_RDIV, _RDIV_B, _RDIV_G):
        expr = "10 - " + macro.format(a="3", b="2")
        got = spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]
        assert got == 8, f"spark macro lost parens: {expr!r} -> {got}"
    got = duckdb.sql("SELECT 10 - " + _rdiv_sql("3", "2")).fetchone()[0]
    assert got == 8, "duckdb macro lost parens"


def test_label_centroids_integer_mean_half_away(spark):
    """Regression (r12 sf0.1 sweep): the centroid mean must be exact
    integer round-half-away in micro units — round(double, 6) on the
    quotient diverged between engines on boundary values.  su=3 micro
    over n=2 sits exactly on the 1.5-micro boundary: half-away gives
    2 micro, half-even (or a last-ulp-low double) gives 1."""
    emb = local_frame(
        spark,
        [(0, "a", [0.000001]), (1, "a", [0.000002])],
        "vec_id bigint, label string, embedding array<double>",
    )
    row = S.label_centroids(emb, "embedding", "label").collect()[0]
    assert row["n_vecs"] == 2
    assert row["mean_val"] == 0.000002
    # and a negative-sum boundary rounds AWAY from zero, not toward
    neg = local_frame(
        spark,
        [(0, "a", [-0.000001]), (1, "a", [-0.000002])],
        "vec_id bigint, label string, embedding array<double>",
    )
    nrow = S.label_centroids(neg, "embedding", "label").collect()[0]
    assert nrow["mean_val"] == -0.000002
