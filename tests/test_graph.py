"""Graph-domain tests: HyperBall register-propagation invariants
against an exact BFS reach replay, and triangle counting against a
brute-force reference with the degenerate/edge cases SQL twins can't
probe."""

from __future__ import annotations

import hashlib
import itertools
import random

from .background import heavy_check
from .conftest import SF_SMOKE as SF


def test_hyperball_registers_match_exact_ball_union(spark):
    """Register propagation must equal computing HLL registers over
    the EXACT radius-t reach sets — MAX-merge through edges is the
    same lattice operation as union-then-sketch."""
    from cassandra_join_library_spark.operators.sketch import (
        HLL_M, _HLL_PAYLOAD_BITS,
    )
    from cassandra_join_library_spark.queries.graph import (
        _copurchase_edges,
    )
    from cassandra_join_library_spark.queries.graph import (
        _T, _ZERO_TERM, graph_hyperball_reach,
    )

    rows = {r["radius"]: r for r in
            graph_hyperball_reach(spark, SF).collect()}
    assert set(rows) == set(range(1, _T + 1))

    e = _copurchase_edges(spark, SF).collect()
    adj = {}
    for r in e:
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    nodes = set(adj)

    def regs_of(ball):
        regs = {}
        for x in ball:
            h = int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)
            j, w = h % HLL_M, h >> HLL_M.bit_length() - 1
            rank = (_HLL_PAYLOAD_BITS + 1 if w == 0
                    else _HLL_PAYLOAD_BITS + 1 - w.bit_length())
            regs[j] = max(regs.get(j, 0), rank)
        return regs

    balls = {n: {n} for n in nodes}
    for t in range(1, _T + 1):
        balls = {n: balls[n].union(*(balls[v] for v in adj[n]))
                 for n in nodes}
        hit = s2 = 0
        for n in nodes:
            regs = regs_of(balls[n])
            hit += len(regs)
            s2 += sum(1 << (_HLL_PAYLOAD_BITS + 1 - m)
                      for m in regs.values())
            s2 += (HLL_M - len(regs)) * _ZERO_TERM
        r = rows[t]
        assert r["n_nodes"] == len(nodes), t
        assert r["total_buckets_hit"] == hit, t
        assert int(r["sum_s2"]) == s2, t


def _brute_triangles(edges: "set[tuple[int, int]]") -> "dict[int, int]":
    adj: "dict[int, set[int]]" = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts: "dict[int, int]" = {}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                counts[n] = counts.get(n, 0) + 1
    return counts


def _triangle_trials():
    """Deterministic G(n, p) trials (seeded rng, fixed draw order) —
    regenerated identically by the background sweep and the test."""
    rng = random.Random(11)
    out = []
    for trial in range(3):
        n = 16 + trial * 8
        out.append((n, {
            (u, v)
            for u in range(n) for v in range(u + 1, n)
            if rng.random() < 0.25
        }))
    return out


@heavy_check("graph_triangle_got")
def _triangle_got(spark):
    from cassandra_join_library_spark.operators.graph import (
        triangle_participation,
    )

    got = []
    for n, edges in _triangle_trials():
        df = spark.createDataFrame(
            [(u, v) for u, v in sorted(edges)], "u long, v long")
        got.append({
            r["node_id"]: r["n_triangles"]
            for r in triangle_participation(df, top=n).collect()
        })
    return got


def test_triangle_participation_matches_bruteforce(heavy_results):
    """Random G(n, p) graphs: the degree-ordered wedge join must agree
    with an O(n^3) brute force on every node's participation count —
    the orientation is an optimization, never a semantics change."""
    all_got = heavy_results("graph_triangle_got")
    for trial, (n, edges) in enumerate(_triangle_trials()):
        got = all_got[trial]
        want = _brute_triangles(edges)
        top = dict(sorted(want.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:n])
        assert got == top, f"trial {trial}: {got} != {top}"


def test_triangle_participation_no_triangles(spark):
    """A path graph has zero triangles — empty result, not an error."""
    from cassandra_join_library_spark.operators.graph import (
        triangle_participation,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "u long, v long")
    assert triangle_participation(df, top=5).count() == 0


def test_triangle_top_limit_is_totally_ordered(spark):
    """Ties at the top-k boundary must break on node id so the result
    set is deterministic (the oracle-hash contract)."""
    from cassandra_join_library_spark.operators.graph import (
        triangle_participation,
    )

    # two disjoint triangles: all six nodes tie at 1 triangle each
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (11, 12), (12, 13), (11, 13)],
        "u long, v long")
    got = [r["node_id"]
           for r in triangle_participation(df, top=4).collect()]
    assert got == [1, 2, 3, 11]
