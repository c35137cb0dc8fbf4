"""Edit-distance (fuzzy string) similarity join with segment blocking.

The naive fuzzy-pair shape — ``a JOIN b ON key_a < key_b WHERE
levenshtein(...) <= d`` — is a cartesian product; at 100 TB it never
finishes.  This operator makes the pair space proportional to actual
near-matches with two standard tricks:

1. **String dedup first.**  Real corpora repeat values (product names,
   titles); all the quadratic work runs on DISTINCT strings, then id
   pairs are recovered with two equi-joins.  Identical-string groups
   short-circuit to distance 0 without any distance computation.
2. **PassJoin pigeonhole blocking** (Li, Deng, Feng — public
   algorithm): partition each indexed string into ``d+1`` segments; if
   ``lev(s, t) <= d`` then at least one segment of ``s`` contains no
   edit, so it occurs EXACTLY in ``t``, shifted by at most ``d``
   positions.  Candidates are generated by an equi-join on
   ``(indexed_length, segment_index, segment_text)`` — a plain hash
   join, never a cross product — and then exact-verified with
   ``levenshtein``.  No false negatives (pigeonhole covers inserts/
   deletes via the +-d shift window), no false positives (verify).

Strings shorter than ``d+1`` can't be segmented; any qualifying
partner is itself shorter than ``2d``, and the DISTINCT strings of
bounded length form a bounded set, so that residue is a tiny
cross-join handled separately (skipped entirely when absent, keeping
cartesians out of the plan).

Everything is JVM-side (substring/sequence/transform expressions +
``levenshtein``); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _segment_cols(l_col: str, i_col: str, k: int):
    """Segment geometry for splitting a string of length ``l`` into
    ``k`` even segments: the first ``k - l%k`` segments have length
    ``l div k``, the rest one more.  Returns (start, length) Columns
    (1-based start, matching SQL substring)."""
    base = F.expr(f"{l_col} div {k}")
    rem = F.expr(f"{l_col} % {k}")
    i = F.col(i_col)
    seglen = base + F.when(i >= F.lit(k) - rem, F.lit(1)).otherwise(F.lit(0))
    start = F.lit(1) + i * base + F.greatest(F.lit(0), i - (F.lit(k) - rem))
    return start, seglen


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """All pairs with ``levenshtein(s_a, s_b) <= max_dist``.

    Returns (key_a, key_b, edit_dist) with key_a < key_b (ids ordered
    with least/greatest).  Null or duplicate-id safety is the caller's
    concern; null strings never match (SQL semantics).
    """
    d = max_dist
    k = d + 1

    names = df.select(F.col(id_col).alias("_id"), F.col(s_col).alias("_s")) \
              .filter(F.col("_s").isNotNull())
    # materialized: the short-residue PROBE below (limit(1).count()) and
    # the main candidate path both read the distinct set — otherwise
    # the probe would re-scan and re-shuffle the whole input once just
    # to decide plan shape (and could see different data than the main
    # job if the source is being rewritten)
    dn = names.select("_s").distinct().withColumn("_m", F.length("_s")) \
        .localCheckpoint(eager=True)

    # ---- main path: distinct strings of length >= k -------------------
    longs = dn.filter(F.col("_m") >= k)

    # index side: each string split into its k segments
    idx_i = longs.select(
        "_s", "_m",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_i"),
    )
    i_start, i_len = _segment_cols("_m", "_i", k)
    index = (
        idx_i.withColumn("__start", i_start)
        .withColumn("__len", i_len)
        .select(
            F.col("_s").alias("_s_idx"),
            F.col("_m").alias("_l"),
            "_i",
            F.expr("substring(_s, __start, __len)").alias("_seg"),
        )
    )

    # probe side: for every candidate indexed length l in [m-d, m+d]
    # and segment i, emit the substrings of this string that an
    # unedited segment could align to (start shifted by at most d)
    combos = F.array(*[
        F.struct(F.lit(dl).alias("dl"), F.lit(i).alias("i"))
        for dl in range(-d, d + 1)
        for i in range(k)
    ])
    pr = (
        dn.select("_s", "_m", F.explode(combos).alias("_c"))
        .withColumn("_l", F.col("_m") + F.col("_c.dl"))
        .filter(F.col("_l") >= k)
        .withColumn("_i", F.col("_c.i"))
    )
    p_start, p_len = _segment_cols("_l", "_i", k)
    pr = (
        pr.withColumn("__start", p_start)
        .withColumn("__len", p_len)
        .withColumn("_lo", F.greatest(F.lit(1), F.col("__start") - F.lit(d)))
        .withColumn("_hi", F.least(F.col("_m") - F.col("__len") + F.lit(1),
                                   F.col("__start") + F.lit(d)))
        # sequence(a, b) counts DOWN when b < a — guard empty windows
        .withColumn("_p", F.explode(F.expr(
            "IF(_hi >= _lo, sequence(_lo, _hi), array())")))
        .select(
            F.col("_s").alias("_s_probe"), "_l", "_i",
            F.expr("substring(_s, _p, __len)").alias("_seg"),
        )
    )

    # normalize with least/greatest, NOT a probe<index filter: a pair
    # whose shorter side is below k exists in only ONE direction (the
    # short string can't be indexed), and `<` would throw half of
    # those away
    cand = (
        pr.join(index, ["_l", "_i", "_seg"])
        .filter(F.col("_s_probe") != F.col("_s_idx"))
        .select(F.least("_s_probe", "_s_idx").alias("_sa"),
                F.greatest("_s_probe", "_s_idx").alias("_sb"))
        .distinct()
    )

    # ---- short residue: both strings shorter than k -------------------
    shorts = dn.filter(F.col("_m") < k)
    # a qualifying partner of a <k string has length < k + d = 2d + 1,
    # but only BOTH-short pairs are missed by the main path (the main
    # path indexes any >=k string and probes the short one); the
    # distinct short-string set is bounded, so its cross join is
    # constant work at any corpus size.
    # Skip the branch when empty so no cartesian node enters the plan.
    string_pairs = cand
    if shorts.limit(1).count() > 0:
        s_a = shorts.select(F.col("_s").alias("_sa"), F.col("_m").alias("_ma"))
        s_b = shorts.select(F.col("_s").alias("_sb"), F.col("_m").alias("_mb"))
        short_cand = (
            s_a.crossJoin(s_b)
            .filter((F.col("_sa") < F.col("_sb"))
                    & (F.abs(F.col("_ma") - F.col("_mb")) <= d))
            .select("_sa", "_sb")
        )
        string_pairs = cand.union(short_cand)

    verified = (
        string_pairs
        .withColumn("_dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("_dist") <= d)
    )

    # ---- expand distinct-string pairs back to id pairs ----------------
    ids_a = names.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa"))
    ids_b = names.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb"))
    cross_name = (
        verified.join(ids_a, "_sa").join(ids_b, "_sb")
        .select(
            F.least("_ida", "_idb").alias("key_a"),
            F.greatest("_ida", "_idb").alias("key_b"),
            F.col("_dist").cast("bigint").alias("edit_dist"),
        )
    )
    # identical-string groups: distance 0 without any distance work
    same_name = (
        ids_a.join(ids_b, F.col("_sa") == F.col("_sb"))
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("key_a"),
            F.col("_idb").alias("key_b"),
            F.lit(0).cast("bigint").alias("edit_dist"),
        )
    )
    return cross_name.unionByName(same_name)
