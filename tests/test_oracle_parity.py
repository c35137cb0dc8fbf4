"""Mini-driver: replicate the correctness gate locally.

For every registered query with an oracle, run the Spark query AND the
DuckDB SQL at sf0.01 and compare row count, column set, and exact
values (order-insensitive).  Stricter than a row-count-and-hash
compare: a query that passes here also passes that one.

The comparisons run ONCE through the shared parallel engine
(``parity.run_parity_gate`` — the same code path as the pre-commit
``scripts/run_gate.py``, so coverage and "equal" can never drift), in
a session-scoped fixture; the parametrized tests then assert each
query's recorded outcome.  This keeps every oracle individually
visible in CI while collapsing the wall from ~6 sequential minutes to
the gate's ~1-minute critical path (r06 verdict ask #6).
"""

from __future__ import annotations

import pytest

from cassandra_join_library_spark.parity import run_parity_gate
from cassandra_join_library_spark.registry import all_oracles, all_queries

from .background import heavy_check
from .conftest import SF_ORACLE

QUERIES = all_queries()
ORACLES = all_oracles()
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


def _rows_only_run(name):
    def run(spark):
        df = QUERIES[name](spark, SF_ORACLE)
        return df.columns, df.count()
    return run


for _name in ROWS_ONLY:
    heavy_check(f"rows_only::{_name}")(_rows_only_run(_name))


@pytest.fixture(scope="session")
def gate_results(spark):
    # the gate normally runs in a BACKGROUND thread started at
    # collection (tests/conftest.py pytest_collection_modifyitems), so
    # its sweep overlaps the rest of the suite's wall; this fixture
    # just joins it.  Fallback to an inline run if the hook didn't
    # fire (e.g. fixture requested from an odd invocation).
    from .conftest import GATE_STATE

    t = GATE_STATE.get("thread")
    if t is None:
        return run_parity_gate(spark, SF_ORACLE, workers=8)
    t.join()
    if "error" in GATE_STATE:
        raise GATE_STATE["error"]
    return GATE_STATE["result"]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, gate_results):
    timings, failures = gate_results
    assert name in timings, f"{name}: never ran through the parity gate"
    assert name not in failures, f"{name} failed parity:\n{failures[name]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, heavy_results):
    """Queries without oracles must still run and return a stable schema."""
    cols, cnt = heavy_results(f"rows_only::{name}")
    assert cols, f"{name}: no columns"
    assert cnt >= 0


def test_distributed_compare_agrees_with_collect_gate(spark, duck):
    """The collect-free compare mode (parity.distributed_compare —
    the sf1 evidence path for the four output-explosion queries) must
    agree with the engines at a scale where we can ALSO see it work:
    all four names, engine-side (row_count, md5-hash-sum) scalars
    equal across Spark and DuckDB at sf0.01.  The sf1 runs themselves
    are recorded in SCALE.md (round 13)."""
    from cassandra_join_library_spark.parity import distributed_compare

    for name in ("theta_lt", "join_full", "interval_join_shipdate",
                 "interval_join_facade"):
        out = distributed_compare(spark, SF_ORACLE, name, con=duck)
        assert out["rows"] > 0 and out["hash_sum"] is not None
