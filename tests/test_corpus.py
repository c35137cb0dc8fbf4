"""Invariant tests for the corpus-preparation operators — especially
the properties the DuckDB oracle can't check (k-means is iterative;
chunking must reconstruct; splits must be stable)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators import corpus as C
from cassandra_join_library_spark.sources.catalog import load_table

from .background import heavy_check
from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


# ---- background heavy checks (tests/background.py): the k-means
# trainings are the suite's two slowest calls (~36 s combined); they
# are deterministic and self-contained, so they run on the sweep pool
# overlapped with the sequential wall and the tests just join+assert.

def _assignments(spark, repartition: "int | None" = None):
    df = load_table(spark, SF_SMOKE, "embeddings")
    if repartition:
        df = df.repartition(repartition)
    return {
        r["vid"]: r["cluster"]
        for r in C.kmeans_assign(
            df, "vec_id", "embedding", k=4, n_iter=3).collect()
    }


heavy_check("kmeans_assign_base")(_assignments)
heavy_check("kmeans_assign_repart7")(lambda s: _assignments(s, 7))


def _inertia(spark, n_iter: int) -> float:
    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned = C.kmeans_assign(emb, "vec_id", "embedding", k=4,
                               n_iter=n_iter)
    vecs = emb.select(
        F.col("vec_id").alias("vid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    j = assigned.join(vecs, "vid")
    cent = (
        j.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
    )
    per_dim = (
        j.select("vid", "cluster", F.posexplode("v").alias("pos", "x"))
        .join(cent, ["cluster", "pos"])
        .select(((F.col("x") - F.col("m")) ** 2).alias("d"))
    )
    return per_dim.agg(F.sum("d")).collect()[0][0]


heavy_check("kmeans_inertia_i1")(lambda s: _inertia(s, 1))
heavy_check("kmeans_inertia_i4")(lambda s: _inertia(s, 4))


def test_kmeans_deterministic_and_complete(emb, heavy_results):
    pa = heavy_results("kmeans_assign_base")
    pb = heavy_results("kmeans_assign_repart7")
    # every vector assigned exactly once, identically under any
    # input partitioning (decimal-exact centroid updates)
    assert pa == pb
    assert len(pa) == emb.count()
    assert set(pa.values()) <= set(range(4))


def test_kmeans_improves_inertia(heavy_results):
    """More Lloyd iterations never increase total within-cluster
    spread (monotone convergence — the algorithm's defining
    property)."""
    i4 = heavy_results("kmeans_inertia_i4")
    i1 = heavy_results("kmeans_inertia_i1")
    assert i4 <= i1 + 1e-9


def test_chunks_reconstruct_text(spark, docs):
    """Concatenating each chunk's first `stride` chars (plus the last
    chunk's remainder) reproduces the original document exactly."""
    chunks = C.chunk_documents(docs, "doc_id", "text")
    rebuilt = (
        chunks.withColumn(
            "piece",
            F.when(
                F.col("chunk_id")
                == F.max("chunk_id").over(Window.partitionBy("doc_id")),
                F.col("chunk_text"),
            ).otherwise(F.substring("chunk_text", 1, 150)),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(
                    F.struct("chunk_id", "piece"))), lambda s: s["piece"])
            ).alias("rebuilt")
        )
    )
    diff = (
        docs.filter(F.length("text") >= 1)
        .join(rebuilt, "doc_id")
        .filter(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert diff == 0


def test_split_is_stable_and_stratified(docs):
    out = C.stratified_split(docs, "doc_id", "lang")
    rows = out.collect()
    assert len(rows) == docs.count()
    frac = sum(1 for r in rows if r["split"] == "test") / len(rows)
    assert 0.02 < frac < 0.25  # ~10% by construction
    again = {r["doc_id"]: r["split"] for r in
             C.stratified_split(docs, "doc_id", "lang").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)


def test_contamination_benchmark_members_flagged(docs):
    """A benchmark doc duplicated verbatim in the corpus must be fully
    contaminated; the benchmark doc itself doesn't self-match."""
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    clone = bench.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = C.contamination_overlap(
        docs.unionByName(clone), "doc_id", "text", bench
    )
    flagged = {r["doc_id"]: r for r in out.collect()}
    cid = clone.collect()[0]["doc_id"]
    assert flagged[cid]["overlap_ratio"] == 1.0
    assert flagged[cid]["is_contaminated"]


def test_pack_sequences_contiguous_and_bounded(docs):
    chunks = C.chunk_documents(docs, "doc_id", "text")
    packs = C.pack_sequences(chunks)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["n_tokens"], r["pack_id"])
         for r in packs.collect())
    )
    # pack ids are non-decreasing in (doc, chunk) order with no gaps
    ids = [p for _, _, _, p in rows]
    assert ids == sorted(ids)
    assert set(ids) == set(range(max(ids) + 1))
    # each pack STARTS below the budget boundary: a chunk may straddle,
    # but the pre-chunk offset of every member is inside the pack
    per_pack = {}
    cum = 0
    for _, _, tok, pid in rows:
        per_pack.setdefault(pid, []).append(cum)
        cum += tok
    for pid, offs in per_pack.items():
        assert all(pid * 512 <= o < (pid + 1) * 512 for o in offs)


def test_latest_state_one_row_per_key(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    out = C.latest_state(ev, "user_id", "ts", "event_id")
    assert out.count() == ev.select("user_id").distinct().count()
    joined = (
        out.alias("o")
        .join(ev.alias("e"), "user_id")
        .filter(F.col("e.ts") > F.col("o.ts"))
        .count()
    )
    assert joined == 0  # nothing newer exists for any kept row


def test_shuffle_shards_balanced_total_order(docs):
    out = C.shuffle_shards(docs, "doc_id", n_shards=8)
    rows = out.collect()
    assert len({(r["shard"], r["pos_in_shard"]) for r in rows}) == len(rows)
    sizes = {}
    for r in rows:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    avg = len(rows) / 8
    assert all(0.5 * avg < s < 1.7 * avg for s in sizes.values())


def test_mixture_flattens_source_skew(docs):
    before = {r["source"]: r["c"] for r in
              docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    out = C.mixture_rebalance(docs, "doc_id", "source")
    after = {r["source"]: r["c"] for r in
             out.groupBy("source").agg(F.count("*").alias("c")).collect()}
    # smallest source kept (frac = 1); skew ratio strictly shrinks
    smallest = min(before, key=before.get)
    assert after[smallest] == before[smallest]
    if len(before) > 1 and max(before.values()) > min(before.values()):
        skew_before = max(before.values()) / min(before.values())
        skew_after = max(after.values()) / min(after.values())
        assert skew_after < skew_before
    # deterministic: identical kept set on re-run
    again = {r["doc_id"] for r in
             C.mixture_rebalance(docs, "doc_id", "source").collect()}
    assert again == {r["doc_id"] for r in out.collect()}


def test_quantile_filter_keeps_top_half(docs):
    out = C.quality_quantile_filter(docs, "doc_id", "text", "lang")
    per_lang_total = {
        r["lang"]: r["c"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    kept = {
        r["lang"]: r["c"]
        for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    for lang, total in per_lang_total.items():
        # percent_rank <= 0.5 keeps ceil((n-1)/2)+1 rows of n
        assert kept[lang] == (total - 1) // 2 + 1
