"""CDC merge operator semantics: the four MERGE cases, seq-awareness,
batch-composition invariance."""

from __future__ import annotations

from cassandra_join_library_spark.operators.cdc import (
    compact_changelog, merge_upsert as _merge_upsert,
)

from .background import heavy_check


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)],
        "k bigint, payload string, seq bigint",
    )


def _rows(df):
    return {r["k"]: (r["payload"], r["seq"]) for r in df.collect()}


# ---- background heavy checks: the deterministic merge scenarios are
# the suite's most expensive fixed-cost calls (the batchwise chains
# alone were ~35 s); precompute every merged snapshot on the sweep
# pool, assert in the tests.

@heavy_check("cdc_four_cases")
def _four_cases_out(spark):
    changes = spark.createDataFrame(
        [
            (1, "a2", 20, "U"),   # update
            (2, None, 20, "D"),   # delete
            (4, "d", 20, "U"),    # insert (new key)
            # k=3 untouched -> keep
        ],
        "k bigint, payload string, seq bigint, op string",
    )
    return _rows(_merge_upsert(_target(spark), changes, ["k"], ["seq"]))


@heavy_check("cdc_stale")
def _stale_out(spark):
    changes = spark.createDataFrame(
        [(1, "stale", 5, "U"), (2, None, 5, "D")],
        "k bigint, payload string, seq bigint, op string",
    )
    return _rows(_merge_upsert(_target(spark), changes, ["k"], ["seq"]))


@heavy_check("cdc_batchwise")
def _batchwise_payload(spark):
    all_changes = [
        (1, "v1", 20, "U"), (1, "v2", 30, "U"),   # two updates, 30 wins
        (2, None, 25, "D"), (2, "back", 40, "U"),  # delete then re-insert
        (3, None, 50, "D"),                        # delete
        (5, "new", 15, "U"),                       # insert
    ]
    schema = "k bigint, payload string, seq bigint, op string"
    full = _merge_upsert(_target(spark),
                         spark.createDataFrame(all_changes, schema),
                         ["k"], ["seq"])
    want = _rows(full)

    # two split points (middle + single-trailing-element) x both orders
    # covers composition invariance; the third split point (1) added
    # ~15 s of checkpointed merge chains for no new code path
    def run_chain(split, order):
        parts = [all_changes[:split], all_changes[split:]]
        if order:
            parts.reverse()
        snap = _target(spark)
        for p in parts:
            if p:
                # checkpoint between batches: the merge plan embeds
                # the snapshot TWICE (anti + inner), so chaining
                # without materialization re-executes a 2^depth
                # plan tree per action (this one test cost 41 s)
                snap = _merge_upsert(
                    snap, spark.createDataFrame(p, schema),
                    ["k"], ["seq"]
                ).localCheckpoint(eager=True)
        return _rows(snap)

    # the four chains are independent — run them as concurrent driver
    # actions even inside the sweep (wall-latency-bound tiny jobs)
    from concurrent.futures import ThreadPoolExecutor

    combos = [(s, o) for s in (3, 5) for o in (0, 1)]
    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(lambda c: run_chain(*c), combos))
    return want, dict(zip(combos, results))


def test_merge_covers_all_four_cases(heavy_results):
    out = heavy_results("cdc_four_cases")
    assert out == {1: ("a2", 20), 3: ("c", 10), 4: ("d", 20)}


def test_merge_is_seq_aware_stale_change_loses(heavy_results):
    """A change with an OLDER seq than the target row must not win —
    the invariant that makes replays and out-of-order batches safe."""
    out = heavy_results("cdc_stale")
    # both stale: update ignored, delete ignored
    assert out == {1: ("a", 10), 2: ("b", 10), 3: ("c", 10)}


def test_merge_batchwise_equals_global(heavy_results):
    """Applying the changelog split into two batches (in either order)
    must equal applying it all at once."""
    want, chains = heavy_results("cdc_batchwise")
    assert want == {1: ("v2", 30), 2: ("back", 40), 5: ("new", 15)}
    for combo, got in chains.items():
        assert got == want, combo


def test_compact_changelog_ties_break_on_last_seq_col(spark):
    ch = spark.createDataFrame(
        [(1, "x", 10, 1), (1, "y", 10, 2)],
        "k bigint, payload string, seq bigint, tiebreak bigint",
    )
    out = compact_changelog(ch, ["k"], ["seq", "tiebreak"]).collect()
    assert len(out) == 1 and out[0]["payload"] == "y"


def test_broadcast_delta_plan_never_full_outers_the_snapshot(spark):
    """The merge must resolve as broadcast joins streaming
    the snapshot — a FullOuter join (which can never broadcast) would
    shuffle the entire 100 TB target.  Since r12 the contested branch
    (second snapshot pass + broadcast inner join) executes EAGERLY at
    build time behind a localCheckpoint, so the returned plan carries
    the kept branch's broadcast anti join and scans the checkpointed
    contested rows; the full-outer ban still applies to the whole
    visible plan."""
    from cassandra_join_library_spark.registry import all_queries
    from .conftest import SF_ORACLE

    df = all_queries()["cdc_merge_upsert"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan
    # kept anti + inserts anti both broadcast (the checkpoint erases
    # contested's size estimate, so the inserts anti carries an
    # explicit hint — without it Spark's stats-blind default was a
    # sort-merge anti, a snapshot-shuffling shape at 100 TB)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Scan ExistingRDD" in plan             # checkpointed contested
    assert "SortMergeJoin" not in plan


def test_merge_matches_reference_model_on_random_changelogs(spark):
    """Randomized cross-check against a dict-based reference model:
    any key set, payload, op mix, and seq ordering (unique seq per key
    — equal-seq compaction order is explicitly unspecified)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.integers(min_value=0, max_value=5)
    seqs = st.integers(min_value=0, max_value=30)
    payloads = st.text(alphabet="abc", min_size=0, max_size=3)

    target_st = st.dictionaries(keys, st.tuples(payloads, seqs), max_size=5)
    change_st = st.lists(
        st.tuples(keys, payloads, seqs, st.sampled_from(["U", "D"])),
        max_size=10,
    ).map(lambda cs: list({(k, s): (k, p, s, o)
                           for k, p, s, o in cs}.values()))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(target=target_st, changes=change_st)
    def run(target, changes):
        tdf = spark.createDataFrame(
            [(k, p, s) for k, (p, s) in target.items()] or [],
            "k bigint, payload string, seq bigint",
        )
        cdf = spark.createDataFrame(
            changes or [], "k bigint, payload string, seq bigint, op string",
        )
        got = {r["k"]: (r["payload"], r["seq"])
               for r in _merge_upsert(tdf, cdf, ["k"], ["seq"]).collect()}

        # reference model
        latest = {}
        for k, p, s, o in changes:
            if k not in latest or s > latest[k][1]:
                latest[k] = (p, s, o)
        want = {}
        for k in set(target) | set(latest):
            t = target.get(k)
            c = latest.get(k)
            if c is not None and (t is None or c[1] >= t[1]):
                if c[2] != "D":
                    want[k] = (c[0], c[1])
            elif t is not None:
                want[k] = t
        assert got == want, (target, changes)

    run()


def test_null_key_changes_insert_not_update(spark):
    """Documented contract: NULL keys are unmatchable under SQL join
    semantics, so a NULL-key 'update' inserts a second NULL-key row
    rather than replacing the existing one (scrub NULLs upstream)."""
    t = spark.createDataFrame([(None, "old", 10)],
                              "k bigint, payload string, seq bigint")
    c = spark.createDataFrame([(None, "new", 20, "U")],
                              "k bigint, payload string, seq bigint, op string")
    out = sorted((r["payload"], r["seq"])
                 for r in _merge_upsert(t, c, ["k"], ["seq"]).collect())
    assert out == [("new", 20), ("old", 10)]
