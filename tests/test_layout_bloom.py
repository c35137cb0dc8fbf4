"""Z-order layout and Bloom-prefilter operator semantics + plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_prefilter,
)
from cassandra_join_library_spark.operators.layout import (
    zorder_layout,
    zorder_value,
)

from .conftest import SF_SMOKE


def _morton2(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_matches_reference_morton(spark):
    """The expression tree computes the textbook Morton code on a full
    4-bit x 4-bit grid."""
    grid = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    rows = grid.select("x", "y", zorder_value(["x", "y"], bits=4)).collect()
    for r in rows:
        assert r["zval"] == _morton2(r["x"], r["y"], 4), (r["x"], r["y"])


def test_zorder_clusters_quadrants(spark):
    """Sorting by the Z-value splits the grid into contiguous quadrants
    (the top interleaved bits are the quadrant id) — the property that
    makes min-max pruning work on both dimensions."""
    grid = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    ordered = grid.select("x", "y", zorder_value(["x", "y"], bits=4)) \
        .orderBy("zval").collect()
    quadrant = [(r["x"] >= 8) + 2 * (r["y"] >= 8) for r in ordered]
    # each quadrant occupies one contiguous run of 64 rows
    for q in range(4):
        positions = [i for i, v in enumerate(quadrant) if v == q]
        assert positions[-1] - positions[0] == 63
        assert len(positions) == 64


def test_zorder_layout_plan_range_partitions_and_sorts(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = zorder_layout(df, ["o_orderkey", "o_custkey"], num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert "sort" in plan
    # layout adds exactly the one shuffle the re-clustering requires
    assert plan.count("exchange") == 1


def test_bloom_no_false_negatives_and_prunes(spark):
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    supplier = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet") \
        .filter(F.col("s_nationkey") < 3).select("s_suppkey")
    pruned = bloom_prefilter(lineitem, "l_suppkey", supplier, "s_suppkey")
    exact = lineitem.join(
        supplier, lineitem.l_suppkey == supplier.s_suppkey, "left_semi")
    n_all = lineitem.count()
    n_pruned = pruned.count()
    n_exact = exact.count()
    # superset of the semi-join (Bloom filters never drop a match)...
    assert pruned.join(
        supplier, pruned.l_suppkey == supplier.s_suppkey, "left_anti"
    ).count() == n_pruned - n_exact
    assert n_pruned >= n_exact
    # ...and actually selective: with m=65536 bits for a handful of
    # keys the false-positive rate is ~0, so the prefilter should cut
    # close to the exact selectivity
    assert n_pruned <= n_exact * 1.01 + 100
    assert n_pruned < n_all


def test_bloom_filter_is_constant_size_and_map_side(spark):
    supplier = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    words = bloom_build(supplier, "s_suppkey", num_bits=1 << 12)
    assert len(words) == (1 << 12) // 64  # constant, data-independent
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    filtered = lineitem.filter(bloom_might_contain("l_suppkey", words))
    plan = filtered._jdf.queryExecution().executedPlan().toString().lower()
    # membership test is a pure scan-side filter: no shuffle, no Python
    assert "exchange" not in plan
    assert "pythonudf" not in plan


def test_bloom_membership_exact_on_known_keys(spark):
    keys = spark.range(100).select((F.col("id") * 7).alias("k"))
    words = bloom_build(keys, "k", num_bits=1 << 12)
    probe = spark.range(100).select((F.col("id") * 7).alias("k"))
    hits = probe.filter(bloom_might_contain("k", words)).count()
    assert hits == 100  # every inserted key tests positive


def test_zorder_layout_schema_unchanged(spark):
    """The internal Z-value sort key must NOT leak into the result —
    writing the layout directly must reproduce the source schema."""
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = zorder_layout(df, ["o_orderkey", "o_custkey"], num_partitions=4)
    assert out.columns == df.columns
