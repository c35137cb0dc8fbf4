"""Parallel local correctness gate with per-oracle wall-time report.

Runs EVERY registered oracle (Spark at sf0.01 vs DuckDB, exact-value
compare via ``cassandra_join_library_spark.parity``) from a thread
pool: Spark happily serves concurrent jobs from multiple driver
threads, and at sf0.01 most queries leave 31 of 32 cores idle — so
6 workers cut the ~6 min sequential gate to roughly its longest
critical path.  DuckDB gets one connection per worker thread.

Prints a JSON summary (total wall, per-query seconds, slowest 10, and
``cached_plans_left``: the plans the session's CacheManager still holds
after the sweep) and exits non-zero on any mismatch, or when a query
left a cached plan behind (a ``persist()`` nothing can unpersist; see
the materialization rule in ``operators/dedup.py``).  This is the
pre-commit gate; the pytest twin (tests/test_oracle_parity.py) calls
the SAME
``parity.run_parity_gate`` engine, so the two can never drift in
coverage or comparison semantics.

Usage:
    python scripts/run_gate.py [--workers 6] [--sf /root/testdata/sf0.01]
    python scripts/run_gate.py --only dedup_exact,join_inner
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workers", type=int, default=6)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (default: all oracled)")
    args = ap.parse_args()

    from cassandra_join_library_spark import get_spark
    from cassandra_join_library_spark.parity import run_parity_gate
    from cassandra_join_library_spark.registry import all_oracles

    spark = get_spark(app_name="gate", shuffle_partitions=8)
    oracles = all_oracles()
    names = sorted(oracles)
    if args.only:
        names = [n for n in args.only.split(",") if n in oracles]

    t0 = time.time()
    timings, failures = run_parity_gate(
        spark, args.sf, names=names, workers=args.workers)
    wall = round(time.time() - t0, 1)
    cached_left = spark._jsparkSession.sharedState().cacheManager() \
        .cachedData().size()

    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    print(json.dumps({
        "gate_wall_seconds": wall,
        "n_oracles": len(names),
        "n_failures": len(failures),
        "cached_plans_left": cached_left,
        "slowest10": dict(slowest),
        "workers": args.workers,
    }))
    for name, err in failures.items():
        print(f"\n=== FAIL {name} ===\n{err}", file=sys.stderr)
    return 1 if failures or cached_left else 0


if __name__ == "__main__":
    raise SystemExit(main())
