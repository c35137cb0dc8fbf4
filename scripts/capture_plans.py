"""Capture ``explain("formatted")`` for registered queries into
``<outdir>/<name>_<tag>.txt`` (default outdir: a ``capture_plans``
directory under the system temp dir) plus a one-line plan-shape
summary (Exchange count, join strategies, Python-eval nodes) per
query — run it with one tag before a change and another after, then
diff the files and the summaries (guide §1: measure first; §7.2: read
the plan).

No query RESULTS are materialized, but constructing registered
queries does run real Spark jobs: operator-internal eager
localCheckpoints (contamination/pack/minhash/graph), observe-carried
sizing metrics, and store materializations all execute during plan
capture — don't point this at an expensive sf dir assuming zero
execution (the AQE note: plans show isFinalPlan=false; runtime
re-optimization is visible only in the UI after execution — the shape
facts we assert (exchange count upper bound, join strategy, pushdown)
are all initial-plan facts).

The files are normalized so that two runs of the same tree diff
clean: expression ids (``#123``), exchange plan ids (``plan_id=57``)
and RDD ids (``RDD[78]``), which count what ran before in the
session, are stripped, and so is the Java
call site a ``localCheckpoint`` leaf records, which reads
``NativeMethodAccessorImpl.java:0`` in one run and ``<unknown>:0`` in
another.

Usage:
    python scripts/capture_plans.py --tag before --only a,b [--sf DIR] [--outdir DIR]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")


_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD)\[\d+\]")
_CALL_SITE = re.compile(r"localCheckpoint at \S+:\d+")


def normalize(txt: str) -> str:
    return _CALL_SITE.sub("localCheckpoint", _IDS.sub("", txt))


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return normalize(buf.getvalue())


def summarize(txt: str) -> dict:
    return {
        "exchanges": len(re.findall(r"^\s*[+:]?-? ?Exchange", txt, re.M))
        or txt.count("Exchange "),
        "smj": txt.count("SortMergeJoin"),
        "bhj": txt.count("BroadcastHashJoin"),
        "shj": txt.count("ShuffledHashJoin"),
        "bnlj": txt.count("BroadcastNestedLoopJoin"),
        "py": txt.count("BatchEvalPython")
        + txt.count("ArrowEvalPython")
        + txt.count("MapInPandas")
        + txt.count("MapInArrow"),
        "cartesian": txt.count("CartesianProduct"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True)
    ap.add_argument("--only", required=True,
                    help="comma-separated registered query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--outdir", default=os.path.join(tempfile.gettempdir(),
                                                     "capture_plans"))
    args = ap.parse_args()

    from cassandra_join_library_spark import get_spark
    from cassandra_join_library_spark.registry import all_queries

    spark = get_spark(app_name="capture-plans")
    queries = all_queries()
    names = args.only.split(",")
    os.makedirs(args.outdir, exist_ok=True)

    for name in names:
        if name not in queries:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        try:
            txt = plan_text(queries[name](spark, args.sf))
        except Exception as exc:  # keep going; a broken plan IS a finding
            txt = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        s = summarize(txt)
        print(f"{name}: exch={s['exchanges']} smj={s['smj']} "
              f"bhj={s['bhj']} shj={s['shj']} bnlj={s['bnlj']} "
              f"py={s['py']} cart={s['cartesian']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
