"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The checks and generators run without Spark in well under a minute;
``test_traced_run_reports_every_layer_metric`` starts one traced run
per workload (a few minutes in all).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.oracle import Oracle, Tally, check_collected, check_written  # noqa: E402
from perfbench.run import NOT_APPLICABLE, Record, Runner, quantile  # noqa: E402
from perfbench.tracing import plan_counts  # noqa: E402
from perfbench.workloads import WORKLOADS, registered  # noqa: E402


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    sizes = datagen.generate(str(d), seed=7, sf=0.001, n_docs=50, n_vecs=50)
    o = Oracle(str(d), sizes, str(d / "duck"))
    yield o
    o.close()


def _record(q, frame) -> Record:
    return Record(q.name, q.oracle, q.tables, "q", 0.0, 1.0, result=frame)


def test_generator_is_deterministic():
    a = datagen.star_tables(np.random.default_rng(5), 0.001)
    b = datagen.star_tables(np.random.default_rng(5), 0.001)
    assert all(a[t].equals(b[t]) for t in a)


def test_corrupted_collected_result_raises_error_rate(oracle):
    q = registered("join_inner")
    good = oracle.frame(q.oracle).copy()
    bad = good.copy()
    bad.loc[0, "customer_c_acctbal"] += 0.01
    tally = Tally(attempted=3)
    check_collected([_record(q, good), _record(q, good.iloc[::-1]),
                     _record(q, bad)], oracle, tally)
    assert tally.wrong == 1
    assert tally.error_rate == pytest.approx(1 / 3)


def test_wrong_first_result_is_judged_alone(oracle):
    q = registered("join_inner")
    good = oracle.frame(q.oracle)
    tally = Tally(attempted=2)
    check_collected([_record(q, good.iloc[1:]), _record(q, good)], oracle, tally)
    assert tally.wrong == 1


def test_corrupted_written_result_raises_error_rate(oracle, tmp_path):
    q = registered("filter_algebra")
    frame = oracle.frame(q.oracle)
    good, bad = tmp_path / "good", tmp_path / "bad"
    for d in (good, bad):
        d.mkdir()
    frame.to_json(good / "part-0.json", orient="records", lines=True)
    frame.iloc[:-1].to_json(bad / "part-0.json", orient="records", lines=True)
    tally = Tally(attempted=2)
    assert check_written(q.name, q.oracle, str(good), oracle, tally) == len(frame)
    assert tally.wrong == 0
    check_written(q.name, q.oracle, str(bad), oracle, tally)
    assert tally.wrong == 1
    assert tally.error_rate == 0.5


@pytest.mark.parametrize("part", [None, "{not json\n", '{"customer_c_custkey": "x"}\n'])
def test_unreadable_written_result_raises_error_rate(oracle, tmp_path, part):
    q = registered("filter_algebra")
    if part is not None:
        (tmp_path / "part-0.json").write_text(part)
    tally = Tally(attempted=2)
    assert check_written(q.name, q.oracle, str(tmp_path), oracle, tally) == 0
    assert tally.exceptions == 1
    assert tally.error_rate == 0.5


def test_window_counts_failed_written_checks(oracle, tmp_path):
    """A written result that cannot be checked fails its query; the
    window carries on with the next one."""
    wl = WORKLOADS["bulk_joins"]
    runner = Runner(None, wl, "", tmp_path, oracle, Tally())
    runner.execute = lambda q: Record(q.name, q.oracle, q.tables, "q", 0.0, 1.0,
                                      result=tmp_path / "missing")
    records, spent = runner.window(wl.sequence(np.random.default_rng(1)), 2)
    assert len(records) == 2 * len(wl.queries) and spent == len(records)
    assert runner.tally.attempted == len(records)
    assert runner.tally.error_rate == 1.0


def test_exceptions_count_as_failures():
    tally = Tally(attempted=4)
    tally.raised("join_inner", RuntimeError("boom"))
    assert tally.failed == 1 and tally.error_rate == 0.25


def test_quantile_weights_every_sample():
    assert quantile([2.0] * 7, 0.75) == pytest.approx(2.0)
    assert quantile(range(1, 22), 0.5) == pytest.approx(11.0)
    x = np.random.default_rng(0).normal(10, 1, 4000)
    assert quantile(x, 0.75) == pytest.approx(np.quantile(x, 0.75), abs=0.03)
    # two query classes, 4 samples each: the plain median jumps to the
    # edge between them, the estimate moves with every sample
    mix = [1.0, 1.1, 1.2, 1.3, 2.0, 2.1, 2.2, 2.3]
    assert quantile(mix, 0.5) < quantile(mix[:-1] + [3.0], 0.5)


def test_plan_counts():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- BroadcastHashJoin [a#1], [b#2], Inner, BuildRight\n"
        "   :- Exchange hashpartitioning(a#1, 32)\n"
        "   :  +- FileScan parquet [a#1] PushedFilters: [IsNotNull(a), "
        "In(a, [1,2])], ReadSchema: struct<a:int>\n"
        "   +- BroadcastExchange HashedRelationBroadcastMode\n"
        "      +- BroadcastNestedLoopJoin BuildRight, Inner\n"
        "         +- FileScan parquet [b#2] PushedFilters: [], ReadSchema\n")
    assert plan_counts(plan) == {"pushed_filters": 2, "exchanges": 1,
                                 "broadcast_joins": 2, "nested_loop_joins": 1}


def test_benchmark_json_names_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    layer = {m["name"] for m in spec["per_layer"]}
    for na in NOT_APPLICABLE.values():
        assert set(na) <= layer


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer_metric(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    record, result = (json.loads(line) for line in p.stdout.splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    na = set(record["not_applicable"])
    assert na == set(NOT_APPLICABLE[workload])
    assert all(result["metrics"][k]["value"] == 0 for k in na)
    for k in ("session.get_spark_s", "sources.load_s", "plans.catalyst_s",
              "spark.jobs_per_query", "spark.executor_run_s"):
        assert result["metrics"][k]["value"] > 0, k
