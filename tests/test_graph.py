"""Graph-domain tests: HyperBall register-propagation invariants
against an exact BFS reach replay."""

from __future__ import annotations

import hashlib

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
