"""Degenerate-input regression tests for the review-hardening fixes
(ANSI-mode division guards, NULL-safe digests, type-generic ids,
Arrow-independent local relations)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cassandra_join_library_spark.sources.catalog import local_frame

from .background import heavy_check


def test_value_outliers_zero_variance_group(spark):
    """A constant group must be skipped, not crash with DIVIDE_BY_ZERO
    (ANSI default) or mass-flag via NaN."""
    from cassandra_join_library_spark.operators.profiling import (
        value_outliers,
    )

    df = local_frame(
        spark,
        [(1, "g", 7.5), (2, "g", 7.5), (3, "g", 7.5),
         (4, "h", 0.0)] + [(10 + i, "h", 1.0) for i in range(30)],
        "id bigint, grp string, v double",
    )
    out = value_outliers(df, "id", "grp", "v").collect()
    assert all(r["grp"] != "g" for r in out)
    assert all(math.isfinite(r["zscore"]) for r in out)


def test_snapshot_diff_null_vs_empty_and_swapped_nulls(spark):
    """NULL↔'' and column-swapped NULLs are CHANGES, not digest
    collisions."""
    from cassandra_join_library_spark.operators.corpus import snapshot_diff

    schema = "id bigint, a string, b string"
    old = local_frame(spark, [(1, "a", None), (2, None, None), (3, "x", "y")],
                      schema)
    new = local_frame(spark, [(1, None, "a"), (2, "", None), (3, "x", "y")],
                      schema)
    out = {r["id"]: r["status"]
           for r in snapshot_diff(old, new, "id", ["a", "b"]).collect()}
    assert out == {1: "changed", 2: "changed"}  # 3 unchanged, absent


def test_dedup_survivors_string_ids(spark):
    """String doc ids (URLs) flow through the singleton fallback
    without a bigint cast."""
    from cassandra_join_library_spark.operators.dedup import dedup_survivors

    docs = local_frame(
        spark,
        [("http://a", 10), ("http://b", 20), ("http://c", 5)],
        "doc_id string, n_chars bigint",
    )
    clusters = local_frame(
        spark,
        [("http://a", "http://a"), ("http://b", "http://a")],
        "doc_id string, cluster_id string",
    )
    out = dedup_survivors(docs, clusters, "doc_id", "n_chars").collect()
    kept = {r["doc_id"] for r in out}
    # b wins its cluster (longer); c is its own singleton and survives
    assert kept == {"http://b", "http://c"}


def test_token_budget_plan_digitless_source(spark):
    """Sources without trailing digits get the fallback weight instead
    of an ANSI cast error / silent NULL exclusion."""
    from cassandra_join_library_spark.operators.corpus import (
        token_budget_plan,
    )

    df = local_frame(
        spark,
        [(1, "a b c", "wikipedia"), (2, "d e", "src7"), (3, "f", "src7")],
        "doc_id bigint, text string, source string",
    )
    rows = {r["source"]: r
            for r in token_budget_plan(df, "text", "source",
                                       budget_tokens=100).collect()}
    assert set(rows) == {"wikipedia", "src7"}
    assert abs(sum(r["target_weight"] for r in rows.values()) - 1.0) < 1e-5


def test_local_frame_arrow_disabled_fallback(spark):
    """local_frame must produce correct rows (incl. None in int
    columns) even if a caller's session had Arrow off — it re-pins
    the conf itself."""
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        df = local_frame(spark, [(1, None), (2, 5)], "a bigint, b bigint")
        rows = sorted((r["a"], r["b"]) for r in df.collect())
        assert rows == [(1, None), (2, 5)]
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def test_runtime_parity_confs_pin_arrow():
    from cassandra_join_library_spark.sources.catalog import (
        RUNTIME_PARITY_CONFS,
    )

    assert RUNTIME_PARITY_CONFS[
        "spark.sql.execution.arrow.pyspark.enabled"] == "true"


def test_pmi_has_no_forced_vocab_broadcast(spark):
    """The unigram joins must not carry broadcast HINTS (vocabulary is
    data-dependent); only the 1-row N scalar may force one."""
    from cassandra_join_library_spark.operators.corpus import (
        pmi_collocations,
    )

    docs = local_frame(
        spark,
        [(1, "new york new york city"), (2, "the of the of a")],
        "doc_id bigint, text string",
    )
    plan = pmi_collocations(docs, "text", k=5, min_count=1)
    logical = plan._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") <= 1  # the N scalar only


def test_cosine_zero_vector_is_excluded_not_crash(spark):
    """A zero embedding (no direction) must not kill similarity
    queries under ANSI mode; it simply never matches."""
    from cassandra_join_library_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = local_frame(
        spark,
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
         (3, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") == 0)
    out = cosine_topk_bruteforce(emb, queries, k=3)
    rows = out.collect()
    assert {r["neighbor_id"] for r in rows} == {1, 3}  # 2 excluded
    assert all(r["cosine_sim"] is not None for r in rows)


def test_asof_null_payload_not_stitched_from_older_row(spark):
    """The matched payload must come from the SAME right row as the
    matched id — a NULL payload is a NULL match, not a carry-forward."""
    from cassandra_join_library_spark.operators.asof import asof_join

    right = local_frame(
        spark,
        [(7, 1, 1, 100.0), (7, 2, 2, None)],
        "k bigint, ts bigint, event_id bigint, price double",
    )
    left = local_frame(spark, [(7, 3)], "k bigint, ts bigint")
    r = asof_join(left, right, "k", right_payload=["price"]).collect()[0]
    assert r["matched_event_id"] == 2
    assert r["matched_price"] is None  # NOT 100.0 from the older row


def test_asof_null_right_ts_and_null_keys_never_match(spark):
    """SQL semantics (the ASOF oracle's): NULL right timestamps and
    NULL keys match nothing; NULL-key left rows still appear."""
    from cassandra_join_library_spark.operators.asof import asof_join

    right = local_frame(
        spark,
        [(7, None, 99), (None, 1, 98)],
        "k bigint, ts bigint, event_id bigint",
    )
    left = local_frame(spark, [(7, 5), (None, 5)], "k bigint, ts bigint")
    rows = {r["k"]: r["matched_event_id"]
            for r in asof_join(left, right, "k").collect()}
    assert rows == {7: None, None: None}


def test_interval_join_reversed_and_null_intervals_match_nothing(spark):
    from cassandra_join_library_spark.operators.range_join import (
        interval_join,
    )

    pts = local_frame(spark, [(1, 5.0)], "pid bigint, v double")
    iv = local_frame(
        spark,
        [(10, 0.0, 10.0), (11, 20.0, 10.0), (12, None, 30.0)],
        "iid bigint, lo double, hi double",
    )
    out = interval_join(pts, "v", iv, "lo", "hi", bucket_width=5.0)
    assert [(r["pid"], r["iid"]) for r in out.collect()] == [(1, 10)]


def test_band_join_zero_width_fails_fast():
    import pytest

    from cassandra_join_library_spark.operators.range_join import band_join

    with pytest.raises(ValueError, match="width must be > 0"):
        band_join(None, "a", None, "b", width=0.0)


def test_stratified_topk_accepts_desc_rank_columns(spark):
    from cassandra_join_library_spark.operators.skew import stratified_topk

    df = local_frame(
        spark,
        [(i, "g%d" % (i % 2), float(i)) for i in range(40)],
        "id bigint, g string, score double",
    )
    out = stratified_topk(df, "g", [F.col("score").desc(), "id"], n=2)
    rows = sorted((r["g"], r["rn"], r["id"]) for r in out.collect())
    assert rows == [("g0", 1, 38), ("g0", 2, 36),
                    ("g1", 1, 39), ("g1", 2, 37)]


def test_dsum_survives_values_beyond_1e12(spark):
    """One outlier above the old DECIMAL(18,6) ceiling must not abort
    the aggregate under ANSI."""
    from cassandra_join_library_spark.functions.scalars import dsum

    df = local_frame(spark, [(1, 1e13), (2, 2.5)], "id bigint, v double")
    got = df.agg(dsum("v", "s")).collect()[0]["s"]
    assert got == 1e13 + 2.5


def test_bloom_build_rejects_zero_bits(spark):
    import pytest

    from cassandra_join_library_spark.operators.bloom import bloom_build

    df = local_frame(spark, [(1,)], "k bigint")
    with pytest.raises(ValueError, match="positive multiple"):
        bloom_build(df, "k", num_bits=0)


def test_mixed_type_equality_join_coerces_not_crashes(spark):
    """String-vs-numeric equality keys: numeric strings match by value,
    non-numeric strings match nothing — no ANSI CAST_INVALID_INPUT."""
    from cassandra_join_library_spark import (
        JoinExecutor, MemoryCatalog, TableInfo,
    )

    a = local_frame(spark, [(1, "5"), (2, "abc"), (3, "7.0")],
                    "id bigint, v string")
    b = local_frame(spark, [(10, 5), (11, 7)], "bid bigint, w int")
    mc = MemoryCatalog({"a": a, "b": b})
    got = sorted(
        (r["a_id"], r["b_bid"])
        for r in JoinExecutor(spark, mc)
        .join(TableInfo("a", "v"), TableInfo("b", "w")).execute().collect()
    )
    assert got == [(1, 10), (3, 11)]

    # composite key: a numeric/numeric pair AND a string/numeric pair;
    # both must hold (a row matching only one of them stays out)
    ca = local_frame(spark, [(1, 1, "5"), (2, 1, "abc"), (3, 2, "7.0"),
                             (4, 2, "5")],
                     "id bigint, g bigint, v string")
    cb = local_frame(spark, [(10, 1, 5), (11, 2, 7), (12, 1, 7)],
                     "bid bigint, h int, w int")
    mc = MemoryCatalog({"a": ca, "b": cb})
    got = sorted(
        (r["a_id"], r["b_bid"])
        for r in JoinExecutor(spark, mc)
        .join(TableInfo("a", ("g", "v")), TableInfo("b", ("h", "w")))
        .execute().collect()
    )
    assert got == [(1, 10), (3, 11)]


class _FakeState:
    """Minimal GroupState stand-in for unit-testing transition fns."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v, self.exists = None, False

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return 0


def test_running_stats_all_null_values_emit_null_max():
    import pandas as pd

    from cassandra_join_library_spark.streaming.stateful import (
        _update_running,
    )

    state = _FakeState()
    pdf = pd.DataFrame({"user_id": [1, 1], "value": [None, None]})
    [out] = list(_update_running((1,), iter([pdf]), state))
    assert out["n_events"][0] == 2
    assert out["max_value"][0] is None  # NOT -inf
    assert out["total_value"][0] == 0.0


def test_sessionizer_drops_null_ts_and_keeps_session_end():
    import pandas as pd

    from cassandra_join_library_spark.streaming.stateful import (
        _make_sessionizer,
    )

    fn = _make_sessionizer(gap_seconds=600)
    state = _FakeState()
    # batch 1: events at 10:00 and 10:05 plus a NULL ts row
    b1 = pd.DataFrame({
        "user_id": [1, 1, 1],
        "ts": pd.to_datetime(["2024-01-01 10:00:00",
                              "2024-01-01 10:05:00", pd.NaT]),
        "value": [1.0, 1.0, 1.0],
    })
    assert list(fn((1,), iter([b1]), state)) == []  # session still open
    last_before = state.get[1]
    # batch 2: a LATE event at 09:58 merges but must not rewind the end
    b2 = pd.DataFrame({
        "user_id": [1],
        "ts": pd.to_datetime(["2024-01-01 09:58:00"]),
        "value": [1.0],
    })
    assert list(fn((1,), iter([b2]), state)) == []
    assert state.get[1] == last_before  # session end unchanged
    # an on-time event 6 min after 10:05 still merges (no bogus split)
    b3 = pd.DataFrame({
        "user_id": [1],
        "ts": pd.to_datetime(["2024-01-01 10:11:00"]),
        "value": [1.0],
    })
    assert list(fn((1,), iter([b3]), state)) == []
    assert state.get[2] == 4  # all 4 timestamped events in ONE session
    # (the NaT row was dropped, not counted)


def test_interval_rewrite_declines_point_intervals(spark):
    """Zero-width intervals at epoch-microsecond magnitudes: the old
    1e-9 bucket floor saturated floor(p/w) to Long.max (one hot
    bucket); the rewrite must decline instead."""
    from cassandra_join_library_spark import (
        Condition, JoinExecutor, MemoryCatalog, TableInfo,
    )

    pts = local_frame(spark, [(1, 1_700_000_000_000_000)],
                      "pid bigint, p double")
    iv = local_frame(spark, [(9, 1_699_999_999_000_000.0,
                              1_699_999_999_000_000.0)],
                     "ik bigint, lo double, hi double")
    ex = (
        JoinExecutor(spark, MemoryCatalog({"pts": pts, "iv": iv}),
                     auto_range_join=True)
        .join(TableInfo("pts", "p"), TableInfo("iv", "lo"), ">=")
        .filter_by(Condition("pts.p", "<=", "iv.hi"))
    )
    assert ex.execute().count() == 0  # correct: p > hi
    assert not any("interval-rewrite" in n for n in ex.plan_notes)


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    import os

    from cassandra_join_library_spark.sources import sinks

    path = str(tmp_path / "part_ds")
    df = local_frame(
        spark,
        [(i, "d%d" % (i % 3), float(i)) for i in range(30)],
        "id bigint, dt string, v double",
    )
    df.write.partitionBy("dt").parquet(path)
    n = sinks.compact_parquet(spark, path, target_file_mb=128)
    assert n >= 0
    subdirs = {d for d in os.listdir(path) if d.startswith("dt=")}
    assert subdirs == {"dt=d0", "dt=d1", "dt=d2"}
    back = spark.read.parquet(path)
    assert back.count() == 30 and "dt" in back.columns


def test_local_frame_empty_without_schema_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="explicit schema"):
        local_frame(spark, [])
    # with a schema the empty relation is fine
    assert local_frame(spark, [], "a bigint").count() == 0


def test_knuth_hash_survives_snowflake_and_negative_ids(spark):
    """Hash-derived / snowflake-scale and negative ids: no ANSI
    overflow, non-negative buckets, stable split fractions."""
    from cassandra_join_library_spark.operators.corpus import (
        mixture_rebalance, shuffle_shards, stratified_split,
    )

    df = local_frame(
        spark,
        [(7_219_402_918_237_551_123, "en", "s0"),
         (-4_611_686_018_427_387_904, "de", "s1"),
         (123, "en", "s0"), (456, "de", "s1")],
        "doc_id bigint, lang string, source string",
    )
    split = stratified_split(df, "doc_id", "lang").collect()
    assert {r["split"] for r in split} <= {"train", "test"}
    assert all(0 <= r["bucket"] < 1000 for r in split)
    shards = shuffle_shards(df, "doc_id", n_shards=8).collect()
    assert all(0 <= r["shard"] < 8 for r in shards)
    mixture_rebalance(df, "doc_id", "source").collect()  # no overflow


def test_incremental_dedup_null_and_separator_safety(spark):
    """Distinct contents must never collide in the digest: NULL
    placement and separator bytes inside values are encoded."""
    from cassandra_join_library_spark.operators.dedup import (
        incremental_dedup,
    )

    corpus = local_frame(spark, [(1, None, "a"), (2, "a\x1f", "b")],
                         "id bigint, c1 string, c2 string")
    new = local_frame(spark, [(10, "a", None), (11, "a", "\x1fb")],
                      "id bigint, c1 string, c2 string")
    kept = {r["id"] for r in
            incremental_dedup(new, corpus, ["c1", "c2"]).collect()}
    assert kept == {10, 11}  # both genuinely new — nothing collides


@heavy_check("hardening_lsh_dim_mismatch")
def _lsh_dim_mismatch(spark):
    from cassandra_join_library_spark.operators.similarity import (
        lsh_cosine_pairs,
    )

    emb = local_frame(spark, [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.1])],
                      "vec_id bigint, embedding array<double>")
    try:
        lsh_cosine_pairs(emb).collect()
    except Exception as exc:  # noqa: BLE001 - payload IS the exception
        return f"{type(exc).__name__}: {exc}"
    return None


def test_lsh_dim_mismatch_fails_loudly(heavy_results):
    err = heavy_results("hardening_lsh_dim_mismatch")
    assert err is not None, "dim mismatch did not raise"
    assert "vector length" in err


def test_pq_shortlist_excludes_null_approx(spark):
    """A corpus vector with a NULL element must not hijack the ADC
    shortlist via NULLS FIRST ascending rank."""
    from cassandra_join_library_spark.operators.similarity import pq_topk

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5])
            for i in range(40)]
    rows.append((99, [None, 1.0, 1.0, 1.0]))
    emb = local_frame(spark, rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 0)
    out = pq_topk(emb, queries, k=3, m=2, ks=4)
    rows = out.collect()
    assert all(r["neighbor_id"] != 99 for r in rows)
    assert all(r["cosine_sim"] is not None for r in rows)


def test_multimodal_null_text_rows_survive(spark):
    from cassandra_join_library_spark.operators.multimodal import (
        decode_features,
    )

    df = local_frame(spark, [(1, "abc"), (2, None)],
                     "doc_id bigint, text string")
    rows = {r["doc_id"]: r
            for r in decode_features(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["byte_len"] == 0  # NULL payload = zero bytes


@heavy_check("hardening_million_token_prob")
def _million_token_prob(spark):
    from cassandra_join_library_spark.operators.text import model_score

    big = local_frame(spark, [(1, " ".join(["w"] * 1_100_000))],
                      "doc_id bigint, text string")
    return model_score(big, "doc_id", "text").collect()[0]["prob"]


def test_model_score_survives_million_token_doc(heavy_results):
    assert heavy_results("hardening_million_token_prob") == 1.0


def test_exact_dedup_normalized_excludes_null_text(spark):
    from cassandra_join_library_spark.operators.text import (
        exact_dedup_normalized,
    )

    df = local_frame(
        spark,
        [(1, None), (2, None), (3, "Same text."), (4, "same TEXT")],
        "doc_id bigint, text string",
    )
    groups = exact_dedup_normalized(df, "doc_id", "text").collect()
    # the two NULL docs are NOT a duplicate group; 3/4 normalize equal
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 3


def test_c4_crlf_lines_clean_and_cr_free(spark):
    from cassandra_join_library_spark.operators.text import c4_line_filter

    doc = ("one two three four five six.\r\n"
           "short\r\n"
           "a b c d e f g final sentence.\r\n"
           "another very fine sentence right here.")
    df = local_frame(spark, [(1, doc)], "doc_id bigint, text string")
    r = c4_line_filter(df, "doc_id", "text").collect()[0]
    assert r["n_kept"] == 3 and "\r" not in r["filtered_text"]


def test_profile_table_with_map_column(spark):
    from cassandra_join_library_spark.operators.profiling import (
        profile_table,
    )

    df = spark.sql(
        "SELECT 1 AS id, map('k', 'v') AS props "
        "UNION ALL SELECT 2, map('a', 'b')"
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_distinct"] == 2
    assert rows["props"]["n_rows"] == 2
    assert rows["props"]["min_str"] is None  # profiled as NULL, no crash


def test_repetition_scores_keeps_null_text_docs(spark):
    from cassandra_join_library_spark.operators.profiling import (
        repetition_scores,
    )

    df = local_frame(spark, [(1, "a a a b"), (2, None)],
                     "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in repetition_scores(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}  # the NULL-text doc still appears
