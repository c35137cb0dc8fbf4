"""Reference-semantics tests for the JoinExecutor façade — the
SURVEY.md §5 test matrix, each case anchored to a reference behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark import Condition, JoinExecutor, TableInfo
from cassandra_join_library_spark.sources.catalog import Catalog

from .conftest import SF_SMOKE


class MemCatalog(Catalog):
    """In-memory tables for null/coercion edge cases.

    Built via ``local_frame`` (JVM LocalTableScan) on purpose:
    Python-row DataFrames scan as ExistingRDD — Python workers at
    execution time (~5 s fixed latency per action here) and UNKNOWN
    size stats, so a 3-row theta join plans as a 32x32-partition
    CartesianProduct instead of a broadcast nested loop."""

    def __init__(self, spark, tables: dict):
        from cassandra_join_library_spark.sources.catalog import local_frame

        self._dfs = {
            name: local_frame(spark, rows) for name, rows in tables.items()
        }

    def load(self, spark, table):
        return self._dfs[table]

    def table_names(self):
        return sorted(self._dfs)


def test_four_join_types_match_sql(spark):
    """J1-J4 (intermediate_result.py:126-403) against spark.sql."""
    for how, sql_kind in [("join", "JOIN"), ("leftJoin", "LEFT JOIN"),
                          ("rightJoin", "RIGHT JOIN"), ("fullOuterJoin", "FULL OUTER JOIN")]:
        ex = JoinExecutor(spark, SF_SMOKE)
        getattr(ex, how)(TableInfo("supplier", "s_nationkey"), TableInfo("customer", "c_nationkey"))
        got = ex.execute().count()
        s = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
        c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        want = s.join(c, s.s_nationkey == c.c_nationkey,
                      {"join": "inner", "leftJoin": "left", "rightJoin": "right",
                       "fullOuterJoin": "full"}[how]).count()
        assert got == want, f"{how}: {got} != {want}"


def test_null_keys_never_match_inner_preserved_outer(spark):
    """Null join keys: dropped by inner, preserved (padded) by outer —
    SQL semantics; the reference's null quirks (intermediate_result.py:
    66-75) are deliberately not replicated (SURVEY.md §2.5)."""
    cat = MemCatalog(spark, {
        "l": [Row(k=1, a="x"), Row(k=None, a="y"), Row(k=2, a="z")],
        "r": [Row(k=1, b="p"), Row(k=None, b="q")],
    })
    inner = (JoinExecutor(spark, cat)
             .join(TableInfo("l", "k"), TableInfo("r", "k")).execute())
    assert inner.count() == 1  # only k=1; nulls never match nulls
    left = (JoinExecutor(spark, cat)
            .leftJoin(TableInfo("l", "k"), TableInfo("r", "k")).execute())
    assert left.count() == 3
    null_padded = left.filter(F.col("l_k").isNull() | (F.col("l_k") == 2))
    assert null_padded.filter(F.col("r_b").isNotNull()).count() == 0


def test_theta_float_coercion_string_vs_number(spark):
    """nested_join.py:981-998: '5' < 10 compares numerically when both
    sides cast to float; raw comparison otherwise."""
    cat = MemCatalog(spark, {
        "l": [Row(k="5", a=1), Row(k="30", a=2), Row(k="abc", a=3)],
        "r": [Row(k=10, b=1)],
    })
    out = (JoinExecutor(spark, cat)
           .join(TableInfo("l", "k"), TableInfo("r", "k"), operator="<")
           .execute())
    keys = {r["l_k"] for r in out.collect()}
    # numeric coercion: "5" < 10 matches, "30" does not (string compare
    # would say "30" < "10" is false anyway, but "5" < "10" is false as
    # strings — numeric semantics must win)
    assert keys == {"5"}


def test_composite_theta_lexicographic(spark):
    """J7 x J6: tuple keys compare lexicographically (utils.py:512-525 +
    Python tuple semantics)."""
    cat = MemCatalog(spark, {
        "l": [Row(x=1, y=5, id="a"), Row(x=2, y=0, id="b")],
        "r": [Row(x=1, y=7, id="c"), Row(x=2, y=0, id="d")],
    })
    out = (JoinExecutor(spark, cat)
           .join(TableInfo("l", ("x", "y")), TableInfo("r", ("x", "y")), operator="<")
           .execute())
    pairs = {(r["l_id"], r["r_id"]) for r in out.collect()}
    # (1,5) < (1,7) and (1,5) < (2,0); (2,0) < nothing
    assert pairs == {("a", "c"), ("a", "d")}


def test_post_join_filter_placement_outer(spark):
    """F2 semantic delta (SURVEY.md §4a): filter_by applies AFTER the
    final join (hash_join.py:1224-1261), so a filter on the right side
    of a left join drops NULL-padded rows — unlike an ON-clause filter."""
    cat = MemCatalog(spark, {
        "l": [Row(k=1), Row(k=2)],
        "r": [Row(k=1, v=10)],
    })
    out = (JoinExecutor(spark, cat)
           .leftJoin(TableInfo("l", "k"), TableInfo("r", "k"))
           .filter_by(Condition("r.v", ">", 5))
           .execute())
    assert out.count() == 1  # k=2's padded row fails the post-join filter


def test_not_over_null_keeps_row(spark):
    """Reference base comparisons are null-rejecting booleans, so
    ~cond over NULL keeps the row (commands.py:109-147)."""
    cat = MemCatalog(spark, {
        "l": [Row(k=1, v=10), Row(k=2, v=None), Row(k=3, v=3)],
        "r": [Row(k=1), Row(k=2), Row(k=3)],
    })
    out = (JoinExecutor(spark, cat)
           .join(TableInfo("l", "k"), TableInfo("r", "k"))
           .filter_by(~Condition("l.v", ">", 5))
           .execute())
    keys = {r["l_k"] for r in out.collect()}
    assert keys == {2, 3}  # NULL v: NOT(FALSE) = TRUE -> kept


def test_projection_validation_rejects_missing_join_column(spark):
    """P2 (join_executor.py:155-212)."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
          .select("customer", {"c_name"}))
    with pytest.raises(ValueError, match="join column"):
        ex.execute()


def test_selects_merge_union(spark):
    """P1: repeated select() calls set-union (join_executor.py:133-140)."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
          .select("customer", {"c_nationkey"})
          .select("customer", {"c_name"})
          .select("nation", {"n_nationkey"}))
    cols = set(ex.execute().columns)
    assert cols == {"customer_c_nationkey", "customer_c_name", "nation_n_nationkey"}


def test_same_name_shorthand(spark):
    """J8: right join_column None reuses the left's (hash_join.py:164-165)."""
    cat = MemCatalog(spark, {
        "l": [Row(k=1, a="x")],
        "r": [Row(k=1, b="y")],
    })
    out = (JoinExecutor(spark, cat)
           .join(TableInfo("l", "k"), TableInfo("r")).execute())
    assert out.count() == 1


def test_json_lines_roundtrip(spark, tmp_path):
    """K1 sink: JSON-lines output readable back (hash_join.py:1195-1269)."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("region", "r_regionkey"), TableInfo("nation", "n_regionkey")))
    ex.execute()
    path = str(tmp_path / "out")
    ex.save_result(path)
    back = spark.read.json(path)
    assert back.count() == ex.to_df().count()
    assert set(back.columns) == set(ex.to_df().columns)


def test_left_deep_chain_requires_joined_left(spark):
    """J10: join k+1's left table must already be in the chain
    (hash_join.py:295-339)."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
          .join(TableInfo("part", "p_partkey"), TableInfo("orders", "o_orderkey")))
    with pytest.raises(ValueError, match="left-deep"):
        ex.execute()


def test_asof_join_semantics(spark):
    """As-of join edges: <= tie matches, no-prior-row gives NULL,
    latest-of-several wins."""
    import datetime as dt

    from cassandra_join_library_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [Row(event_id=100, user_id=1, ts=T(10)),
         Row(event_id=101, user_id=1, ts=T(5)),
         Row(event_id=102, user_id=2, ts=T(3))])
    right = spark.createDataFrame(
        [Row(event_id=1, user_id=1, ts=T(2)),
         Row(event_id=2, user_id=1, ts=T(5)),   # exact tie with 101
         Row(event_id=3, user_id=1, ts=T(7)),
         Row(event_id=4, user_id=2, ts=T(9))])  # after 102 -> no match
    out = {r["event_id"]: r["matched_event_id"]
           for r in asof_join(left, right, key="user_id").collect()}
    assert out == {100: 3, 101: 2, 102: None}


def test_select_unknown_column_rejected(spark):
    """select() typos fail loudly (reference selects_validation)."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
          .select("customer", {"c_custkey", "c_namee"}))
    with pytest.raises(ValueError, match="unknown column"):
        ex.execute()


def test_filter_typo_column_rejected(spark):
    """A dotted filter ref whose prefix is a known table but whose
    column doesn't exist raises instead of comparing a string literal."""
    ex = (JoinExecutor(spark, SF_SMOKE)
          .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
          .filter_by(Condition("customer.c_acctbol", ">", 1000)))
    with pytest.raises(ValueError, match="not in the joined result"):
        ex.execute()


def test_scan_plus_join_rejected(spark):
    ex = (JoinExecutor(spark, SF_SMOKE)
          .scan(TableInfo("part"))
          .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey")))
    with pytest.raises(ValueError, match="scan"):
        ex.execute()


def test_asof_join_rejects_non_integral_right_id(spark):
    """A string right_id would be silently NULLed by the bigint cast
    (every match lost) — the operator must refuse it up front."""
    import pytest
    from pyspark.sql import Row
    from cassandra_join_library_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(user_id=1, ts=10)])
    right = spark.createDataFrame([Row(user_id=1, ts=5, event_id="ev-5")])
    with pytest.raises(TypeError, match="integral"):
        asof_join(left, right, key="user_id")


def test_approx_percentiles_within_accuracy(spark):
    """The log-bin sketch's bracket guarantee: each exact percentile
    (in integer cents) must lie inside the [bin_lo, bin_hi] bracket
    the sketch reports for that (flag, q_pct)."""
    from cassandra_join_library_spark.registry import all_queries
    from .conftest import SF_ORACLE

    import math

    import pyspark.sql.functions as F

    out = {(r["l_returnflag"], r["q_pct"]): (r["bin_lo"], r["bin_hi"])
           for r in all_queries()["approx_percentiles"](spark, SF_ORACLE).collect()}
    l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    flags = {flag for flag, _ in out}
    assert {q for _, q in out} == {25, 50, 75, 95}
    for flag in flags:
        vals = sorted(
            int(round(r["l_extendedprice"] * 100))
            for r in l.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice").collect()
        )
        n = len(vals)
        for q in (25, 50, 75, 95):
            # the sketch's rank convention: ceil(q * n / 100), 1-based
            rank = max(1, math.ceil(q * n / 100))
            exact = vals[rank - 1]
            lo, hi = out[(flag, q)]
            assert lo <= exact <= hi, (flag, q, exact, lo, hi)


def test_hll_mergeable_rollup_accuracy(spark):
    """The MAX-merged monthly portable-HLL estimate must (a) prove
    merge exactness (merged_equal True for every flag — the graded
    property) and (b) land within the raw 64-register estimator's
    error band of the exact distinct count (~13% RSE; allow 3 sigma
    ~= 40%)."""
    from cassandra_join_library_spark.registry import all_queries
    from .conftest import SF_ORACLE

    import pyspark.sql.functions as F

    rows = all_queries()["approx_distinct_mergeable"](spark, SF_ORACLE).collect()
    out = {r["l_returnflag"]: r["approx_parts"] for r in rows}
    assert all(r["merged_equal"] for r in rows), rows
    l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    exact = {r["l_returnflag"]: r["n"]
             for r in l.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("n")).collect()}
    assert set(out) == set(exact)
    for flag, approx in out.items():
        assert abs(approx - exact[flag]) <= 0.40 * exact[flag], (
            flag, approx, exact[flag])


def test_registry_integrity():
    """The registry must never silently lose a query or leave a
    rows-only query unexplained:
      (a) every name in the committed manifest still exists (a refactor
          that silently drops a query fails here);
      (b) every query without a DuckDB oracle has a ROWS_ONLY entry
          that names its oracled twin or says why no oracle exists."""
    import json
    import pathlib

    from cassandra_join_library_spark import registry

    qs = registry.all_queries()
    ors = registry.all_oracles()

    manifest = json.loads(
        (pathlib.Path(__file__).parent / "registry_manifest.json").read_text()
    )
    missing = sorted(set(manifest) - set(qs))
    assert not missing, (
        f"queries disappeared from the registry vs the committed "
        f"manifest: {missing}"
    )

    # every rows-only query must be adjudicated: either it names the
    # oracled query that supersedes it, or it documents why no oracle
    # can exist
    rows_only = {n for n in qs if n not in ors}
    unadjudicated = sorted(rows_only - set(registry.ROWS_ONLY))
    assert not unadjudicated, (
        f"rows-only queries without a ROWS_ONLY adjudication entry: "
        f"{unadjudicated}"
    )
    stale = sorted(set(registry.ROWS_ONLY) - rows_only)
    assert not stale, (
        f"ROWS_ONLY entries for queries that are no longer rows-only: {stale}"
    )
    for n, meta in registry.ROWS_ONLY.items():
        twin = meta.get("superseded_by")
        if twin is not None:
            assert twin in ors, (
                f"ROWS_ONLY[{n!r}] names superseding query {twin!r} "
                "which has no oracle"
            )
        else:
            assert meta.get("reason"), (
                f"ROWS_ONLY[{n!r}] has neither superseded_by nor reason"
            )
