"""Round-9 eleventh wave: prefix-filtered exact Jaccard join (PPJoin
family) and its candidate-funnel audit.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..registry import register
from ..sources.catalog import load_table
from .dedup import _JACCARD_ORACLE
from .wave9 import _rdiv_sql
from ..operators.stats import _RDIV


@register("dedup_prefix_filter_jaccard", oracle=_JACCARD_ORACLE)
def dedup_prefix_filter_jaccard(spark, sf_dir):
    """The exact 5-gram Jaccard pair set AGAIN — but generated through
    PREFIX FILTERING (operators/dedup.py prefix_filter_jaccard_pairs,
    PPJoin family): shingles ordered globally rarest-first, only the
    first n - ceil(t·n) + 1 per document join for candidates, every
    candidate exact-verified.  Sharing dedup_jaccard_exact's oracle IS
    the claim: a different physical strategy, the identical answer —
    the third member of the same-answer family (posting-list join,
    MinHash-LSH r=1, prefix filter), each a different point on the
    candidates-vs-cost curve.  At 100 TB prefix filtering is the
    exact-output option when LSH's probabilistic miss bound is not
    acceptable: the rare-first order makes the joined lists the
    SHORTEST ones (the funnel audit below grades the pruning power)."""
    return D.prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=5, threshold=0.5)


@register("dedup_prefix_filter_funnel", oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 4),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), posting AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_posting FROM (
    SELECT DISTINCT a.doc_id, b.doc_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle
     AND a.doc_id < b.doc_id)
), dfq AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1
), ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
           ORDER BY d.df, s.shingle) AS rk
  FROM sh s JOIN dfq d ON d.shingle = s.shingle
), pref AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN counts c ON c.doc_id = r.doc_id
  WHERE r.rk <= c.n - (50 * c.n + 99) // 100 + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle
   AND a.doc_id < b.doc_id
), ncand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_prefix FROM cand
), verified AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified FROM (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS common
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY 1, 2
  ) cm JOIN counts ca ON ca.doc_id = cm.doc_a
       JOIN counts cb ON cb.doc_id = cm.doc_b
  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
)
SELECT n_posting, n_prefix, n_verified,
       CAST({_rdiv_sql("1000000 * (n_posting - n_prefix)", "n_posting")}
            AS BIGINT) AS pruned_ppm
FROM posting, ncand, verified
""")
def dedup_prefix_filter_funnel(spark, sf_dir):
    """The prefix filter's pruning power, MEASURED: candidate pairs
    from the full posting-list join (what dedup_jaccard_exact
    verifies) vs candidates surviving the rarest-first prefix join vs
    final verified pairs — the three funnel stages of a set-similarity
    join, graded as one exact row.  ``pruned_ppm`` is the fraction of
    pair verifications the prefix theorem eliminated with zero recall
    loss; this is the number that decides whether the exact path is
    affordable at 100 TB or the pipeline must drop to MinHash."""
    # eager localCheckpoint, not persist — blocks release with the
    # result plan instead of leaking across the shared bench session
    # (r09 ADVICE; pattern + cluster-scale caveat documented in the
    # operators/dedup.py module docstring)
    sh = (D.shingles(load_table(spark, sf_dir, "documents"), "doc_id", "text", 5)
          .localCheckpoint(eager=True))
    # merge (sort-merge) hints on every corpus-sized join: the
    # checkpointed shingle set's estimated stats can sneak under the
    # broadcast threshold — at sf10 Spark tried to broadcast a side
    # and blew the 8g driver (same fix as prefix_filter_jaccard_pairs)
    a = sh.select(F.col("doc").alias("doc_a"), "shingle").hint("merge")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle").hint("merge")
    posting = (a.join(b, "shingle")
               .filter(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b").distinct()
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_posting")))
    # the candidate definition comes from the SAME helper the operator
    # uses (operators/dedup.py jaccard_prefix_lists) — the funnel can
    # never drift from the query it grades
    pref, counts = D.jaccard_prefix_lists(sh, 0.5)
    pa = pref.select(F.col("doc").alias("doc_a"), "shingle").hint("merge")
    pb = pref.select(F.col("doc").alias("doc_b"), "shingle").hint("merge")
    cand = (pa.join(pb, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    cand = cand.localCheckpoint(eager=True)
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_prefix"))
    x = sh.select(F.col("doc").alias("doc_a"),
                  F.col("shingle").alias("s")).hint("merge")
    y = sh.select(F.col("doc").alias("doc_b"),
                  F.col("shingle").alias("s")).hint("merge")
    common = (cand.hint("merge").join(x, "doc_a").join(y, ["doc_b", "s"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("common")))
    ca = counts.select(F.col("doc").alias("doc_a"),
                       F.col("n_sh").alias("na")).hint("merge")
    cb = counts.select(F.col("doc").alias("doc_b"),
                       F.col("n_sh").alias("nb")).hint("merge")
    verified = (common.join(ca, "doc_a").join(cb, "doc_b")
                .filter(F.col("common") * F.lit(1.0)
                        / (F.col("na") + F.col("nb") - F.col("common"))
                        >= 0.5)
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("n_verified")))
    return (posting.crossJoin(F.broadcast(ncand))
            .crossJoin(F.broadcast(verified))
            .select("n_posting", "n_prefix", "n_verified",
                    F.expr(_RDIV.format(
                        a="1000000 * (n_posting - n_prefix)",
                        b="n_posting")).cast("bigint")
                    .alias("pruned_ppm")))
