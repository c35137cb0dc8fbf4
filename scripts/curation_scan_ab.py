"""A/B: does checkpointing the (doc_id, text) projection once pay for
itself in the multi-scan curation/contamination composites?

The r11->r12 recompute triage left these four queries in the "benign:
multi-pass BY DESIGN" bucket; this script settles it with numbers
instead of adjudication prose.  Variant B monkey-patches the modules'
``load_table`` so the ``documents`` table comes back eagerly
localCheckpoint-ed, so every branch (quality / novelty / contamination
x2 sides) reads the materialized frame instead of re-scanning parquet.

Usage: python scripts/curation_scan_ab.py [--sf /root/testdata/sf0.1]
       [--repeat 2]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def _time(fn, spark, sf, repeat):
    best = None
    for _ in range(repeat):
        t0 = time.time()
        df = fn(spark, sf)
        df.foreach(lambda r: None)  # full evaluation, no driver collect
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cassandra_join_library_spark import get_spark
    from cassandra_join_library_spark.queries import corpus, curation
    from cassandra_join_library_spark.registry import all_queries

    spark = get_spark(app_name="curation_scan_ab")
    qs = all_queries()
    names = [
        "corpus_contamination", "corpus_contamination_capped",
        "corpus_curation_report", "corpus_curation_report_capped",
    ]

    out = {}
    for name in names:
        out[name] = {"baseline": _time(qs[name], spark, args.sf,
                                       args.repeat)}

    from cassandra_join_library_spark.sources.catalog import load_table

    def ck_load(spark_, sf_dir, name):
        # checkpoint the FULL documents schema, not a hand-picked
        # projection: the patch is module-wide while active, so any
        # benchmarked composite (or future addition to `names`) that
        # reads source/n_chars would otherwise fail with a missing
        # column (r12 advice)
        df = load_table(spark_, sf_dir, name)
        return df.localCheckpoint(eager=True) if name == "documents" else df

    for mod in (corpus, curation):
        mod.load_table = ck_load
    try:
        for name in names:
            out[name]["checkpointed"] = _time(
                qs[name], spark, args.sf, args.repeat)
    finally:
        for mod in (corpus, curation):
            mod.load_table = load_table

    print(json.dumps({"sf": args.sf, "repeat": args.repeat,
                      "timings": out}))


if __name__ == "__main__":
    main()
