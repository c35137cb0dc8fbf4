"""Plan-quality tests: the 100 TB mandate, checked on explain output.

These assert the physical plans we'd want on a 1000-executor cluster:
filters and projections reach the parquet scan, small dimensions
broadcast, top-k avoids global sorts, and theta joins pick
broadcast-nested-loop with the small side broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark import Condition, JoinExecutor, TableInfo
from cassandra_join_library_spark.registry import all_queries

from .conftest import SF_ORACLE, SF_SMOKE

QUERIES = all_queries()


def _explain(df, mode: str) -> str:
    """Public-API plan string: capture DataFrame.explain stdout."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_filter_and_projection_pushed_to_scan(spark):
    """F3/P1: predicate + column pruning must reach the parquet scan
    (the reference hand-builds this into CQL, hash_join.py:59-141)."""
    df = QUERIES["projection"](spark, SF_SMOKE)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(p_size), LessThanOrEqual(p_size,20)" in plan
    # column pruning: scan must read only the 3 needed columns
    assert "ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>" in plan


def test_dimension_join_broadcasts(spark):
    """The nation dimension must broadcast — no shuffle of the fact
    side (replaces the reference's DSE direct join, hash_join.py:613-646)."""
    df = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
          .execute())
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_theta_join_is_broadcast_nested_loop(spark):
    """J6: theta joins plan as BroadcastNestedLoopJoin (the reference's
    block-nested-loop with the small side broadcast, nested_join.py:809-846)."""
    df = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("supplier", "s_acctbal"), TableInfo("customer", "c_acctbal"),
                operator="<")
          .execute())
    assert "BroadcastNestedLoopJoin" in _plan(df)


def test_topk_avoids_global_sort(spark):
    """orderBy().limit() must plan as TakeOrderedAndProject, not a
    full exchange+sort."""
    df = QUERIES["topk_customers"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in _plan(df)


def test_whole_stage_codegen_on_scalar_pipeline(spark):
    """Scalar pipelines must stay inside whole-stage codegen (no
    Python/row-at-a-time operators in the hot path)."""
    df = QUERIES["scalar_math"](spark, SF_SMOKE)
    plan = _plan(df)
    # codegen'd operators print with a "*(codegen id)" prefix
    assert "*(1) Project" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_condition_filter_pushed_below_join_when_legal(spark):
    """Post-chain filter on an inner join must be pushed below the join
    by Catalyst (the reference can't: it filters at save time)."""
    df = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
          .filter_by(Condition("customer.c_acctbal", ">", 1000))
          .execute())
    plan = _formatted(df)
    # pushed into the customer scan itself
    assert "GreaterThan(c_acctbal,1000" in plan


def test_corpus_split_and_chunking_are_map_only(spark):
    """Splitting and chunking must cost one pass at any scale: zero
    exchanges in the physical plan (the SCALE.md claim)."""
    for name in ("corpus_split", "corpus_chunks"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_mixture_broadcasts_stats_no_corpus_shuffle(spark):
    """mixture_rebalance: the per-source counts and the global min are
    the ONLY things exchanged — the corpus itself must not shuffle
    (its only appearance is scan -> broadcast-join -> filter)."""
    plan = _plan(QUERIES["corpus_mixture"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # scalar cmin cross join
    # no SortMergeJoin / ShuffledHashJoin of the corpus
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_shuffle_shards_single_exchange(spark):
    """Hash-sharding: one hash-partition exchange (by shard), then
    per-shard parallel sorts — never a global range sort."""
    plan = _plan(QUERIES["corpus_shuffle_shards"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_cosine_pairs_blocked_no_cartesian(spark):
    """embedding_cosine_pairs must NOT plan a cartesian/BNLJ: the
    blocked pair-space rewrite meets candidates in a shuffled
    EQUI-join on the block-pair id (bounded per-task memory at any n);
    the only broadcasts are the constant-size block-pair frames."""
    plan = _plan(QUERIES["embedding_cosine_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the candidate join itself is an equi-join (shuffled or
    # AQE-converted broadcast at test scale) — never nested-loop on
    # an inequality-only condition
    bnlj_lines = [ln for ln in plan.splitlines()
                  if "BroadcastNestedLoopJoin" in ln]
    assert not bnlj_lines, f"nested-loop join in plan:\n{plan}"


def test_pack_sequences_no_unpartitioned_window(spark):
    """pack_sequences: every DATA-SIZED window in the plan must be
    partitioned — the global prefix sum is two-level (doc, then
    doc-range bucket), never a single-task ORDER BY over all rows.
    The one allowed exception is the level-3 bucket-offset prefix
    window (output ``_bkt_off``), which runs over the ≤ n_buckets
    (1024) bucket-totals aggregate — bounded by a knob, not by data."""
    plan = _plan(QUERIES["corpus_pack_sequences"](spark, SF_SMOKE))
    # Spark renders `Window [exprs], [partitionSpec], [orderSpec]` but
    # omits the partition group entirely when empty — so a partitioned
    # window line has two `], [` separators, a global one has one.
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert line.count("], [") >= 2 or "_bkt#" in line, (
                f"unpartitioned window:\n{line}\n{plan}"
            )


def test_pack_sequences_computes_input_once(spark):
    """pack_sequences materializes its input projection once (the
    checkpoint job, which also carries the id-bounds observe metric)
    and every later consumer (doc totals, bucket window, final join)
    reads the materialized leaf — without the operator-internal
    persist the upstream transform (typically a chunk explode) would
    execute 3-4×.  Count actual row evaluations with an accumulator
    on the input scan and require exactly one pass."""
    from cassandra_join_library_spark.operators import corpus as C

    rows = [(d, c, 80 + 10 * c) for d in range(1, 21) for c in range(3)]
    schema = "doc_id bigint, chunk_id bigint, chunk_chars bigint"
    acc = spark.sparkContext.accumulator(0)

    def bump(part):
        for r in part:
            acc.add(1)
            yield r

    base = spark.createDataFrame(rows, schema)
    counted = spark.createDataFrame(base.rdd.mapPartitions(bump), schema)
    out = C.pack_sequences(counted)
    assert out.count() == len(rows)
    assert acc.value == len(rows), (
        f"input computed {acc.value / len(rows):.1f}x — "
        "pack_sequences must materialize its input projection"
    )


def test_kmeans_computes_input_once(spark):
    """kmeans_fit runs one driver action per Lloyd iteration plus the
    init collect — without the operator-internal checkpoint the upstream
    transform would execute n_iter+2 times (7 full corpus scans at
    n_iter=5).  Same accumulator harness as the pack_sequences guard."""
    from cassandra_join_library_spark.operators import corpus as C

    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(40)]
    schema = "vec_id bigint, embedding array<double>"
    acc = spark.sparkContext.accumulator(0)

    def bump(part):
        for r in part:
            acc.add(1)
            yield r

    base = spark.createDataFrame(rows, schema)
    counted = spark.createDataFrame(base.rdd.mapPartitions(bump), schema)
    assigned, cents = C.kmeans_fit(counted, "vec_id", "embedding",
                                   k=4, n_iter=3)
    assert assigned.count() == len(rows) and len(cents) == 4
    assert acc.value == len(rows), (
        f"input computed {acc.value / len(rows):.1f}x — "
        "kmeans_fit must materialize its input projection"
    )


#: runs registered queries in a fresh session and prints how many
#: plans the session's CacheManager holds before and after
_CACHED_PLANS_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from cassandra_join_library_spark import get_spark
from cassandra_join_library_spark.registry import all_queries
spark = get_spark(app_name="cached-plans-test", shuffle_partitions=8)
cached = spark._jsparkSession.sharedState().cacheManager().cachedData
before = cached().size()
for name in sys.argv[3].split(","):
    all_queries()[name](spark, sys.argv[2]).count()
print(json.dumps({"before": before, "after": cached().size()}))
"""


def test_queries_leave_no_cached_plan():
    """The four queries whose operators re-read an intermediate
    (edit_distance_pairs, the rank-correlation contingency table,
    pack_sequences, kmeans_fit) leave the session's CacheManager as
    they found it: a ``persist()`` on a plan the caller materializes
    later can never be unpersisted, so each call would pin one more
    cached plan for the life of the session.  Own process, own
    session: the shared test session runs the background sweeps
    concurrently, and their own persist/unpersist pairs would move
    the count.  The child passes default Java options, so it neither
    maps nor records the machine's class-data archive."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --driver-memory 1g"
        " --conf spark.driver.defaultJavaOptions=-Xshare:auto pyspark-shell")
    names = "string_similarity,stats_rank_corr,corpus_pack_sequences,ann_ivf_kmeans_topk"
    p = subprocess.run(
        [sys.executable, "-c", _CACHED_PLANS_CHILD,
         str(Path(__file__).resolve().parent.parent), SF_ORACLE, names],
        env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["after"] == out["before"], out


def test_e2e_pipeline_plan_is_scale_safe(spark):
    """corpus_e2e_pipeline (the composed filter->dedup->decontam->
    chunk->pack run) must inherit every stage's scale property at
    once: no cartesian, no inequality-only nested loop, and no
    DATA-SIZED unpartitioned window anywhere in the fused plan (the
    pack stage's ≤ n_buckets bucket-offset window, recognizable by its
    ``_bkt`` ordering key, is the one bounded exception — see
    test_pack_sequences_no_unpartitioned_window)."""
    plan = _plan(QUERIES["corpus_e2e_pipeline"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    bnlj_lines = [ln for ln in plan.splitlines()
                  if "BroadcastNestedLoopJoin" in ln]
    assert not bnlj_lines, f"nested-loop join in plan:\n{plan}"
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert line.count("], [") >= 2 or "_bkt#" in line, (
                f"unpartitioned window:\n{line}\n{plan}"
            )


def test_salted_join_query_stays_equi(spark):
    """join_skew_salted: the salt must ride INSIDE the equi-join keys
    — a plan that degrades to nested-loop (salt as a post-join filter)
    would defeat the whole point of scattering the hot key."""
    plan = _plan(QUERIES["join_skew_salted"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_tfidf_vocab_side_broadcasts(spark):
    """TF-IDF: doc-frequency table and corpus count join broadcast —
    the per-(doc,term) side never re-shuffles for the join."""
    plan = _plan(QUERIES["tfidf_top_terms"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_join_strategy_hint_forces_sort_merge(spark):
    """strategy='merge' must override Catalyst's default broadcast
    choice for a small dimension and plan a SortMergeJoin."""
    df = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"),
                TableInfo("nation", "n_nationkey"), strategy="merge")
          .execute())
    plan = _plan(df)
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan


def test_join_strategy_hint_forces_shuffle_hash(spark):
    df = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"),
                TableInfo("nation", "n_nationkey"), strategy="shuffle_hash")
          .execute())
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_join_strategy_hint_validation(spark):
    import pytest

    with pytest.raises(ValueError, match="join strategy"):
        (JoinExecutor(spark, SF_SMOKE)
         .join(TableInfo("customer", "c_nationkey"),
               TableInfo("nation", "n_nationkey"), strategy="hash_grace"))


def test_bm25_plan_shape(spark):
    """BM25: top-k must be TakeOrderedAndProject (never a global sort
    or unpartitioned window); the only nested-loop join allowed is the
    1-row broadcast stats join; df/stats sides broadcast."""
    plan = _plan(QUERIES["corpus_bm25_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            raise AssertionError(f"window in BM25 plan:\n{line}")
    assert plan.count("BroadcastExchange") >= 2, plan


def test_cap_per_group_plan_has_window_group_limit(spark):
    """The rank<=k filter must push into WindowGroupLimit (partial
    per-map top-k before the shuffle) — the skew-safety guarantee."""
    plan = _plan(QUERIES["corpus_source_cap"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan


def test_hard_negatives_broadcasts_queries(spark):
    """Hard-negative mining must broadcast the query side (map-only
    corpus pass, no corpus shuffle before scoring)."""
    plan = _plan(QUERIES["ann_hard_negatives"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_audit_plan_flags_and_allows(spark):
    """The user-facing plan auditor must flag a cartesian and an
    unpartitioned window, pass clean keyed plans, and honor allow."""
    from pyspark.sql import Window

    from cassandra_join_library_spark import assert_scale_safe, audit_plan

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    cart = a.join(b)
    f = audit_plan(cart)
    assert f["cartesian_product"] or f["nested_loop_join"]

    glob = a.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert audit_plan(glob)["unpartitioned_window"]

    keyed = a.withColumn("g", F.col("id") % 3).withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    clean = assert_scale_safe(keyed)
    assert not any(clean.values())

    import pytest as _pytest

    with _pytest.raises(AssertionError, match="unpartitioned_window"):
        assert_scale_safe(glob)
    assert_scale_safe(glob, allow={"unpartitioned_window"})
    with _pytest.raises(ValueError):
        assert_scale_safe(keyed, allow={"nope"})


def test_tf_cosine_no_cartesian_and_equi_posting_join(spark):
    """tf_cosine_pairs must stay an inverted-index EQUI-join on the
    gram key (plus the id-inequality as a post-condition) — never a
    cartesian/BNLJ pair enumeration."""
    from cassandra_join_library_spark.operators.dedup import tf_cosine_pairs
    from cassandra_join_library_spark.sources.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    df = tf_cosine_pairs(docs, "doc_id", "text", threshold=0.5,
                         max_doc_freq=20)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantize_int8_broadcasts_dim_ranges(spark):
    """The 64-row per-dimension range table must broadcast back onto
    the exploded elements — no shuffle of the element side on pos."""
    from cassandra_join_library_spark.operators.similarity import (
        quantize_int8,
    )
    from cassandra_join_library_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    plan = _plan(quantize_int8(emb))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_first_touch_single_user_partitioned_window(spark):
    """One window, partitioned by user — no unpartitioned frame, no
    self-join."""
    from cassandra_join_library_spark.operators.timeseries import (
        first_touch_attribution,
    )
    from cassandra_join_library_spark.sources.catalog import load_events

    plan = _formatted(first_touch_attribution(load_events(spark, SF_ORACLE)))
    assert "WindowExec: No Partition Defined" not in plan
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_embedding_standardize_broadcasts_stats(spark):
    """The per-dimension (64-row) stats side must broadcast back onto
    the exploded coordinates — the corpus never shuffles on a data
    key for normalization."""
    plan = _plan(QUERIES["embedding_standardize"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mm_patch_and_frame_plans_are_map_only(spark):
    """Patch/frame planning is header parsing + integer math: no
    exchange anywhere except the (joined) n_samples lookup for audio,
    which must stay a broadcast."""
    patch = _plan(QUERIES["mm_image_patch_plan"](spark, SF_SMOKE))
    assert "Exchange" not in patch, patch
    audio = _plan(QUERIES["mm_audio_frame_plan"](spark, SF_SMOKE))
    assert "CartesianProduct" not in audio
    assert "SortMergeJoin" not in audio  # doc_id self-join broadcasts


def test_triangle_count_all_joins_are_equi(spark):
    """Degree orientation keeps every triangle join an equi-join —
    no BNLJ/cartesian anywhere in the wedge/closing plan."""
    plan = _plan(QUERIES["graph_triangle_count"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_dedup_window_is_keyed(spark):
    """The keep-longest window must partition by the fingerprint —
    never a single-task global sort."""
    plan = _plan(QUERIES["dedup_prefix_key"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    from cassandra_join_library_spark import audit_plan

    findings = audit_plan(QUERIES["dedup_prefix_key"](spark, SF_SMOKE))
    assert not findings["unpartitioned_window"]


def test_spread_input_gates_on_split_count(spark):
    """spread_input (the fixture stand-in for file-split parallelism)
    must be a NO-OP on inputs that already have >= defaultParallelism
    partitions — on a real corpus with thousands of file splits the
    unconditional repartition would be a full extra shuffle of the
    payload before a map-only transform (r16 verdict ask #5).  The
    keyed form may still repartition (its exchange substitutes for a
    downstream keyed exchange) but must never DOWN-partition."""
    from cassandra_join_library_spark.sources.catalog import spread_input

    n = spark.sparkContext.defaultParallelism
    pre = spark.range(10_000).repartition(n + 4)
    # unkeyed: identical frame back -> no Exchange added anywhere
    assert spread_input(pre) is pre
    # single-split input still gets spread
    few = spark.range(100).coalesce(1)
    assert spread_input(few).rdd.getNumPartitions() == n
    # keyed: repartitions (pre-clusters) but never below the input's
    # natural split count
    keyed = spread_input(pre, F.col("id"))
    assert keyed.rdd.getNumPartitions() == n + 4
