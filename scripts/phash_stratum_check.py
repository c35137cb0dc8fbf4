"""sf1 exactness self-check for the Hamming-banded pair joins (r13
verdict ask #2).

The mm_phash_dedup / dedup_simhash oracles brute-force the FULL pair
space in DuckDB — O(n^2), infeasible at sf1 (50k docs -> 1.25G
pairs).  This script closes that asymmetry engine-side: pick a
bounded doc_id stratum (default ``doc_id % 25 == 7`` -> 2k docs at
sf1 -> 2M brute pairs), brute-force every within-stratum pair, and
assert the PRODUCTION banded join's output restricted to the stratum
equals the brute set exactly (pigeonhole banding is exact — any
divergence is a bug).

``--family phash`` (default) checks the image aHash fingerprints; the
stratum-by-residue choice is load-bearing there: content groups are
``doc_id % 100``, so a modulus-25 residue keeps whole groups aligned
inside the stratum and the planted duplicate/retouch pairs land
within it.  ``--family audio`` checks the WAV energy-difference
fingerprints (queries/multimodal.py) — same ``doc_id % 100`` content
groups, so the same residue trick applies.  ``--family video``
checks the MP4 keyframe aHash fingerprints (queries/multimodal.py) —
same content groups again, with the GROUPED banded join audited
frame-to-frame via ``group_col="frame"``.  ``--family snippet``
checks the windowed audio sub-fingerprints (queries/multimodal.py) on
their composite (clip*8 + window) key — the stratum keys on the CLIP
id so all of a clip's windows stay together; borrow pairs span
(g, g+1) and mostly cross the stratum boundary, which is fine: the
selfcheck grades banded == brute on within-stratum pairs, and the
same-group pairs keep it non-vacuous.  ``--family simhash``
checks the text path (dedup_simhash's portable 60-bit fingerprints,
radius 2) — pair density comes from the corpus itself, so the
non-vacuous guard below may require a wider stratum (smaller
modulus).

Usage:
    PYTHONPATH=. python scripts/phash_stratum_check.py \
        [--family phash|audio|simhash] \
        [--sf-dir /root/repo/.scratch/sf1] [--modulus 25] [--residue 7]

Prints one JSON line for the SCALE.md row.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from cassandra_join_library_spark import get_spark
from cassandra_join_library_spark.operators.dedup import (
    hamming_band_selfcheck,
)


def _fingerprints(family: str, spark, sf_dir: str):
    if family == "phash":
        from cassandra_join_library_spark.queries.multimodal import (
            _phash_fingerprints,
        )

        return _phash_fingerprints(spark, sf_dir)
    if family == "audio":
        from cassandra_join_library_spark.queries.multimodal import (
            _audio_fingerprints,
        )

        return _audio_fingerprints(spark, sf_dir)
    if family == "video":
        # (doc, frame, fp) — the selfcheck audits the GROUPED banded
        # join (frame-to-frame) via group_col="frame"
        from cassandra_join_library_spark.queries.multimodal import (
            _video_fingerprints,
        )

        return _video_fingerprints(spark, sf_dir)
    if family == "snippet":
        # composite-key windowed sub-fingerprints (doc*8 + win) — the
        # exact table mm_audio_snippet_pairs bands; the stratum
        # expression keys on the CLIP id (doc div 8), keeping all of a
        # clip's windows together (main() special-cases this)
        from cassandra_join_library_spark.queries.multimodal import (
            _KEY_STRIDE, _snippet_window_fps,
        )

        fps = _snippet_window_fps(spark, sf_dir)
        return fps.select(
            (F.col("doc") * _KEY_STRIDE + F.col("win")).alias("doc"),
            "fp")
    # text simhash: the exact fingerprints dedup_simhash bands
    # (portable 60-bit md5 path), materialized like every posting-
    # family input before the self-join
    from cassandra_join_library_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from cassandra_join_library_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (simhash_fingerprints(docs, "doc_id", "text")
            .select(F.col("doc"), F.col("simhash").alias("fp"))
            .localCheckpoint(eager=True))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--family",
                   choices=("phash", "audio", "video", "snippet", "simhash"),
                   default="phash")
    p.add_argument("--sf-dir", default="/root/repo/.scratch/sf1")
    p.add_argument("--modulus", type=int, default=25)
    p.add_argument("--residue", type=int, default=7)
    args = p.parse_args()

    spark = get_spark(app_name=f"{args.family}-stratum-check")
    t0 = time.time()
    fps = _fingerprints(args.family, spark, args.sf_dir)
    t1 = time.time()
    out = hamming_band_selfcheck(
        fps, bits=60, max_hamming=2,
        stratum=(
            (F.expr("doc div 8") % args.modulus == args.residue)
            if args.family == "snippet"
            else (F.col("doc") % args.modulus == args.residue)),
        group_col="frame" if args.family == "video" else None,
    )
    # a stratum that captures no planted pair passes missing==extra==0
    # vacuously — refuse to print a green-looking row for it (pick a
    # modulus whose residues keep whole doc_id%100 content groups)
    assert out["brute_pairs"] > 0, (
        f"vacuous stratum (0 brute pairs): modulus {args.modulus} / "
        f"residue {args.residue} captured no planted duplicates"
    )
    out.update({
        "family": args.family,
        "sf_dir": args.sf_dir,
        "modulus": args.modulus,
        "residue": args.residue,
        # distinct docs, not fp rows: grouped families (video) carry
        # n_frames rows per doc and a raw count reads n_frames-fold
        # high (same review finding as stratum_docs)
        "corpus_docs": fps.select("doc").distinct().count(),
        "fingerprint_s": round(t1 - t0, 2),
        "check_s": round(time.time() - t1, 2),
    })
    print(json.dumps(out))


if __name__ == "__main__":
    main()
