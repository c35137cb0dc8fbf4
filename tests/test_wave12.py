"""Wave-12 operator unit tests: hand-computed cases for rich club,
DiD, RAKE, generalization-to-k, and PCM silence runs."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.graph import rich_club
from cassandra_join_library_spark.operators.multimodal import (
    pcm_silence_runs, synthesize_wav_pcm,
)
from cassandra_join_library_spark.operators.profiling import (
    generalize_to_k,
)
from cassandra_join_library_spark.operators.stats import did_2x2
from cassandra_join_library_spark.operators.text import rake_keywords


def test_rich_club_hub_clique(spark):
    """A 4-clique with pendant leaves: the top-degree nodes are the
    clique and they are fully connected (phi = 1)."""
    clique = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    leaves = [(u, 10 + 3 * u + i) for u in range(4) for i in range(3)]
    e = spark.createDataFrame(clique + leaves, "u bigint, v bigint")
    r = rich_club(e, pct=75).collect()[0]
    # degrees: clique nodes 6 each, leaves 1; 75th pct of 16 nodes -> 1,
    # rich set = the 4 clique nodes, all 6 edges present
    assert r["n_rich"] == 4 and r["m_rich"] == 6 and r["phi"] == 1.0


def test_did_recovers_injected_lift(spark):
    """Deterministic 2x2 with a known DiD: cell means 100/110/200/260
    -> DiD = (260-200) - (110-100) = 50 (in micro: 50_000_000)."""
    rows = []
    for variant, period, mean in ((0, 0, 100), (0, 1, 110),
                                  (1, 0, 200), (1, 1, 260)):
        rows += [(variant, period, mean - 1), (variant, period, mean),
                 (variant, period, mean + 1)]
    df = spark.createDataFrame(rows, "v int, p int, val bigint")
    r = did_2x2(df, "v", "p", "val").collect()[0]
    assert r["m00"] == 100_000_000 and r["m11"] == 260_000_000
    assert r["did_micro"] == 50_000_000
    assert r["n01"] == 3 and r["s10"] == 600


def test_did_empty_cell_is_null_not_error(spark):
    df = spark.createDataFrame(
        [(0, 0, 5), (1, 1, 7)], "v int, p int, val bigint")
    r = did_2x2(df, "v", "p", "val").collect()[0]
    assert r["m01"] is None and r["did_micro"] is None


def test_rake_scores_hand_case(spark):
    """One stopword ('the') splits phrases; degree sums phrase lens."""
    docs = spark.createDataFrame(
        [(1, "the big red fox the lazy dog"),
         (2, "the big fox")],
        "doc_id bigint, text string")
    out = {r["word"]: r for r in rake_keywords(
        docs, "doc_id", "text", n_stopwords=1, top=10).collect()}
    assert "the" not in out
    # 'big red fox' (len 3) x1, 'big fox' (len 2) x1
    assert out["big"]["freq"] == 2 and out["big"]["degree"] == 5
    assert out["fox"]["degree"] == 5
    assert out["red"]["degree"] == 3 and out["red"]["ratio"] == 3.0
    assert out["lazy"]["degree"] == 2  # 'lazy dog' phrase


def test_generalize_to_k_chooses_smallest_passing_width(spark):
    """Classes of 2 at width 1 merge to >= 4 at width 4."""
    rows = [("a", i) for i in range(8)] + [("b", i) for i in range(8)]
    df = spark.createDataFrame(rows, "cat string, num bigint")
    out = {r["width"]: r for r in generalize_to_k(
        df, "cat", "num", [1, 2, 4, 8], k=4).collect()}
    assert not out[1]["achieves_k"] and out[1]["min_class"] == 1
    assert out[4]["achieves_k"] and out[4]["chosen"]
    assert out[8]["achieves_k"] and not out[8]["chosen"]
    assert sum(1 for r in out.values() if r["chosen"]) == 1


def test_pcm_silence_runs_matches_python_replay(spark):
    """The fold must equal a Python run-length replay of the same
    deterministic synthetic samples."""
    n = 96
    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in (0, 3, 17)])
    built = synthesize_wav_pcm(docs, "doc_id", n_samples=n)
    out = {r["doc_id"]: r for r in
           pcm_silence_runs(built, "doc_id").collect()}
    for d in (0, 3, 17):
        sams = [((d * 31 + i * 17) % 65536) - 32768 for i in range(n)]
        sil = [abs(v) < 4096 for v in sams]
        runs, best, cur = 0, 0, 0
        for s in sil:
            if s:
                runs += 0 if cur else 1
                cur += 1
                best = max(best, cur)
            else:
                cur = 0
        r = out[d]
        assert r["n_samples"] == n
        assert r["n_silent"] == sum(sil)
        assert r["n_runs"] == runs
        assert r["longest_run"] == best
