"""Data-quality profiling operators.

Pipeline hygiene for 100 TB ingests: per-column null/distinct/range
stats (one pass, all columns aggregated together — never one job per
column), PII pattern flagging, and Gopher-style repetition scores for
text corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

# conservative, recall-oriented patterns (production would use a
# dedicated PII library; these are the cheap first-pass filters)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\- ]{7,}\d",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
}


def profile_table(df: DataFrame) -> DataFrame:
    """Narrow per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str) — ONE aggregation job for every column at once,
    min/max serialized to strings so the schema is uniform."""
    from pyspark.sql.types import MapType

    aggs = []
    for f in df.schema.fields:
        c = f.name
        # map columns are unorderable/unhashable: min/max/count_distinct
        # fail ANALYSIS for the whole job — profile them as NULLs so the
        # rest of the table still gets its stats
        orderable = not isinstance(f.dataType, MapType)
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(c).isNull().cast("bigint")).alias("n_nulls"),
                (F.count_distinct(F.col(c)) if orderable
                 else F.lit(None).cast("bigint")).alias("n_distinct"),
                (F.min(F.col(c)).cast("string") if orderable
                 else F.lit(None).cast("string")).alias("min_str"),
                (F.max(F.col(c)).cast("string") if orderable
                 else F.lit(None).cast("string")).alias("max_str"),
            ).alias(c)
        )
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(F.array(*[F.col(f.name) for f in df.schema.fields])).alias("p")
    )
    return stacked.select(
        "p.column", "p.n_rows", "p.n_nulls", "p.n_distinct", "p.min_str", "p.max_str"
    )


def pii_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII pattern counts + an any-hit flag (the
    drop/redact decision input)."""
    cols = [F.col(id_col)]
    any_hit = F.lit(False)
    for name, pat in PII_PATTERNS.items():
        # idx=0 (whole match): Spark defaults to capture group 1 and
        # errors at runtime on group-less patterns once a match occurs
        cnt = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).cast("bigint")
        cols.append(cnt.alias(f"n_{name}"))
        any_hit = any_hit | (cnt > 0)
    cols.append(any_hit.alias("has_pii"))
    return df.select(*cols)


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition metrics: top-word frequency ratio and
    duplicate-bigram ratio — the standard cheap signals for degenerate
    (looping) text.  Computed via explode + per-doc aggregation, not
    per-row O(k^2) lambdas."""
    # NULL text is EMPTY text, not an excuse to vanish: explode of
    # split(NULL) yields no rows, silently dropping exactly the
    # degenerate docs a profile exists to surface
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = df.select(
        F.col(id_col).alias("doc"), F.explode(F.split(txt, " ")).alias("w")
    )
    top_word = (
        words.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(F.max("c").alias("top_word_count"), F.sum("c").alias("n_tokens"))
    )
    base = df.select(F.col(id_col).alias("doc"), F.split(txt, " ").alias("w"))
    # guard: size(w)<2 would make sequence(0, -1) count DOWN and
    # w[i+1] index out of bounds (ANSI crash) — same hazard shingles()
    # guards in operators/dedup.py
    bigram_expr = F.when(
        F.size(F.col("w")) >= 2,
        F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = base.select("doc", F.explode(bigram_expr).alias("bg"))
    bg_stats = (
        bigrams.groupBy("doc", "bg").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(F.sum("c").alias("n_bigrams"),
             F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_bigrams"))
    )
    # LEFT join: docs with <2 tokens have no bigram row — they must
    # still appear (dup_bigram_ratio NULL), not silently vanish from a
    # data-quality profile
    return (
        top_word.join(bg_stats, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("top_word_count") * F.lit(1.0) / F.col("n_tokens"), 6)
            .alias("top_word_ratio"),
            F.round(F.col("dup_bigrams") * F.lit(1.0) / F.col("n_bigrams"), 6)
            .alias("dup_bigram_ratio"),
        )
    )


def value_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group 3-sigma outlier detection (population moments).

    Data-quality staple: flag rows whose value deviates more than
    3 standard deviations from their group's mean.  The
    moments are DECIMAL-exact (values rounded to 6 dp, sums exact, so
    mean/std are identical under any partitioning and in the SQL
    oracle); the per-group stats table is one row per group —
    broadcast back, map-only flagging.  Returns the outlier rows with
    ``zscore`` (rounded to 6).

    Magnitude ceiling: the exact sum-of-squares needs ~2·digits, so
    |value| must stay below ~10^15 ((27,6)² caps at decimal(38,...)) —
    beyond that ANSI overflows the aggregate.  Values that large are
    corrupt for a z-score anyway; pre-filter them into their own bucket
    (they ARE outliers) before calling if the domain allows them.
    """
    x6 = F.round(F.col(value_col), 6).cast("decimal(27,6)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(x6).alias("_s"),
        F.sum(x6 * x6).alias("_s2"),
    )
    mean = F.col("_s").cast("double") / F.col("_n")
    ex2 = F.col("_s2").cast("double") / F.col("_n")
    stats = stats.select(
        group_col,
        mean.alias("_mean"),
        # greatest(.., 0): ex2 - mean² can round to ~-1e-17 for a
        # constant group; sqrt of that is NaN, and NaN sorts ABOVE any
        # number in Spark, which would flag the whole group
        F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0))).alias("_std"),
    )
    z = (F.col(value_col) - F.col("_mean")) / F.col("_std")
    # _std > 0 guard: a zero-variance group has no z-scores — dividing
    # raises DIVIDE_BY_ZERO under ANSI mode (the default on Spark 4)
    return (
        df.join(F.broadcast(stats), group_col)
        .filter((F.col("_std") > 0) & (F.abs(z) > 3.0))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            F.round(z, 6).alias("zscore"),
        )
    )


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact PII in place: each pattern class is replaced by its
    placeholder token (``<SSN_LIKE>``, ``<EMAIL>``, ``<PHONE>``) — the
    action the ``pii_flags`` decision feeds.  Map-only (three codegen
    regexp_replace passes); patterns are RE2-compatible so the SQL
    oracle reproduces the output byte-for-byte.

    Replacement ORDER is part of the contract: ssn_like runs before
    phone because the broader phone pattern also matches an SSN shape —
    applying phone first would redact SSNs under the wrong label.
    Returns (id, redacted_text, has_redactions).
    """
    out = F.col(text_col)
    for name in ("ssn_like", "email", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return df.select(
        F.col(id_col),
        out.alias("redacted_text"),
        (out != F.col(text_col)).alias("has_redactions"),
    )


def mad_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group robust outliers via median absolute deviation.

    The breakdown-resistant twin of :func:`value_outliers`: moments
    move with the outliers they hunt, medians don't.  Flags rows with
    ``|0.6745 · (x − median) / MAD| > 3.5`` (0.6745 ≈ Φ⁻¹(0.75) makes
    the score ≈ a z-score under normality; 3.5 is the standard
    Iglewicz–Hoban cut).  Values and both medians are rounded to 6 dp
    so the double arithmetic downstream is identical in the oracle.

    Exact grouped medians sort within each group — acceptable because
    ``group_col`` is a bounded-cardinality dimension; the per-group
    stats table is broadcast back, flagging stays map-only.  For
    unbounded groups or a quick pass at 100 TB, swap in
    ``percentile_approx`` (documented knob, loses the exact oracle).
    Returns flagged rows as (``id_col``, ``group_col``, ``value_col``,
    robust_z).
    """
    v6 = F.round(F.col(value_col), 6)
    med = df.groupBy(group_col).agg(
        F.round(F.median(v6), 6).alias("_med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "_absdev", F.round(F.abs(v6 - F.col("_med")), 6)
    )
    mad = dev.groupBy(group_col).agg(
        F.round(F.median("_absdev"), 6).alias("_mad")
    )
    z = F.lit(0.6745) * (v6 - F.col("_med")) / F.col("_mad")
    # MAD = 0 (a majority of the group sits exactly on its median) is
    # the textbook degenerate case: z would be ±Infinity for every
    # off-median row and NaN for median-equal rows (which Spark sorts
    # ABOVE k, silently flagging non-outliers).  Such groups carry no
    # robust-scale information — skip them rather than emit garbage.
    return (
        dev.join(F.broadcast(mad), group_col)
        .filter((F.col("_mad") > 0) & (F.abs(z) > 3.5))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            F.round(z, 6).alias("robust_z"),
        )
    )


def k_anonymity(df: DataFrame, quasi_cols: "list[str]") -> DataFrame:
    """5-anonymity audit over quasi-identifier columns: every
    equivalence class (distinct quasi-id combination) with its size,
    an ``at_risk`` flag (size < 5), and the share of the table's rows
    it represents — the release-gate report a privacy review consumes
    before publishing a dataset.

    Scale: one hash aggregation on the quasi-id key (map-side
    combined) + a 1-row total broadcast; NULL quasi-values form their
    own class (SQL GROUP BY semantics — NULLs group together, which
    is exactly how a linker would treat them)."""
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n"))
    total = df.count()  # scalar driver state (a single long)
    return classes.select(
        *quasi_cols,
        F.col("n").cast("bigint").alias("class_size"),
        (F.col("n") < 5).alias("at_risk"),
        (F.col("n").cast("double") / F.lit(total)).alias("row_share"),
    )


def l_diversity(df: DataFrame, quasi_cols: "list[str]",
                sensitive_col: str) -> DataFrame:
    """L-diversity audit — the refinement of :func:`k_anonymity` that
    catches homogeneity attacks: an equivalence class can be large
    (k-anonymous) yet still leak if every member shares the same
    SENSITIVE value.  Per quasi-identifier class: row count, distinct
    sensitive values, the dominant value's share, and an ``at_risk``
    flag (diversity < 3).

    Scale: two hash aggregations on the quasi-id(+sensitive) key, both
    map-side combined; the per-class join is class-cardinality sized,
    never row-sized.  The dominant share is a single integer division
    so doubles agree across engines."""
    per_value = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("vn"))
    per_class = per_value.groupBy(*quasi_cols).agg(
        F.sum("vn").alias("class_size"),
        F.count(F.lit(1)).alias("l_diversity"),
        F.max("vn").alias("dom"),
    )
    return per_class.select(
        *quasi_cols,
        F.col("class_size").cast("bigint").alias("class_size"),
        F.col("l_diversity").cast("bigint").alias("l_diversity"),
        (F.col("dom").cast("double") / F.col("class_size"))
        .alias("dominant_share"),
        (F.col("l_diversity") < 3).alias("at_risk"),
    )


def snapshot_drift(a: DataFrame, b: DataFrame,
                   len_col: str, cat_cols: "list[str]") -> DataFrame:
    """Column-profile drift between two snapshots of the same table —
    the schema/profile complement of the content-level
    ``corpus_snapshot_diff``: row counts, distinct cardinality per
    categorical column, and length-column sum/min/max, reported long
    (metric, snap_a, snap_b, delta) so a monitor can alert on any
    metric without schema changes.

    Scale: each side collapses to ONE 1-row aggregate (map-side
    combined approximations are deliberately NOT used — counts are
    exact); the unpivot is metric-count sized.  All metrics are
    integers, so parity is exact."""
    def prof(df):
        aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(len_col).cast("bigint").alias("len_sum"),
                F.min(len_col).cast("bigint").alias("len_min"),
                F.max(len_col).cast("bigint").alias("len_max")]
        aggs += [F.countDistinct(c).cast("bigint").alias(f"n_{c}")
                 for c in cat_cols]
        return df.agg(*aggs)

    metrics = (["n_rows", "len_sum", "len_min", "len_max"]
               + [f"n_{c}" for c in cat_cols])
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    pa = prof(a).select(F.expr(
        f"stack({len(metrics)}, {stack}) AS (metric, snap_a)"))
    pb = prof(b).select(F.expr(
        f"stack({len(metrics)}, {stack}) AS (metric, snap_b)"))
    return (
        pa.join(pb, "metric")
        .select("metric", "snap_a", "snap_b",
                (F.col("snap_b") - F.col("snap_a")).alias("delta"))
        .orderBy("metric")
    )


def key_skew_report(df: DataFrame, key_cols: "list[str]") -> DataFrame:
    """Join-planning skew diagnostic: the 10 heaviest key values
    with their row counts, share of the table, and the ratio to the
    MEAN key weight (the salting trigger — a ratio of b means the hot
    key's partition does b× the average work).  Two bounded aggregates
    (per-key counts, then a 1-row global summary broadcast back);
    deterministic tie-break on the key columns."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("rows"))
    summary = counts.agg(
        F.sum("rows").alias("_total"), F.count(F.lit(1)).alias("_nkeys"))
    ranked = (
        counts.crossJoin(F.broadcast(summary))
        .select(
            *key_cols,
            F.col("rows").cast("bigint").alias("rows"),
            (F.col("rows").cast("double") / F.col("_total")).alias("row_share"),
            (F.col("rows").cast("double") * F.col("_nkeys") / F.col("_total"))
            .alias("skew_ratio"),
        )
        .orderBy(F.desc("rows"), *key_cols)
        .limit(10)
    )
    return ranked


def fk_integrity_audit(pairs: "list[tuple]") -> "DataFrame":
    """See queries/stats.py profile_fk_integrity — assembled per-relationship
    from (name, child_df, child_key, parent_df, parent_key) tuples:
    orphan count (child keys with no parent) via anti join, NULL-key
    count, and child row total.  Anti joins broadcast the parent KEY
    projection when small; at 100 TB both sides are key-only
    projections, so the shuffle carries keys, never rows.

    Raises ``ValueError`` on an empty relationship list — the declared
    return type is a DataFrame and a silent ``None`` would surface as
    an ``AttributeError`` at the caller's first method call (advisor
    finding, r06)."""
    if not pairs:
        raise ValueError(
            "fk_integrity_audit: empty relationship list — pass at "
            "least one (name, child_df, child_key, parent_df, "
            "parent_key) tuple"
        )
    out = None
    for name, child, ck, parent, pk in pairs:
        keys = child.select(F.col(ck).alias("_k"))
        nulls = keys.filter(F.col("_k").isNull())
        orphans = (
            keys.filter(F.col("_k").isNotNull())
            .join(parent.select(F.col(pk).alias("_k")).distinct(),
                  "_k", "left_anti")
        )
        row = (
            child.agg(F.count(F.lit(1)).alias("child_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("orphan_rows")))
            .crossJoin(nulls.agg(F.count(F.lit(1)).alias("null_keys")))
            .select(
                F.lit(name).alias("relationship"),
                "child_rows", "orphan_rows", "null_keys",
                ((F.col("orphan_rows") == 0) & (F.col("null_keys") == 0))
                .alias("intact"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def bucket_checksums(df: DataFrame, key_col: str,
                     cols: "list[str]", bucket_size: int = 1024) -> DataFrame:
    """Merkle-style anti-entropy digests: per key-range bucket, an
    ORDER-INDEPENDENT checksum (sum of truncated per-row MD5 digests)
    plus the row count — the structure two replicas exchange to find
    diverging ranges without shipping rows (the repair primitive of
    the reference's native store, re-expressed as a relational
    aggregate).

    The row digest is the first 10 hex chars (40 bits) of
    md5(pipe-joined columns) — truncation keeps the bucket SUM inside
    BIGINT headroom for ~8.4M rows per bucket (2^63 / 2^40); the
    default ``bucket_size=1024`` keeps real buckets 4 orders of
    magnitude below that.  Past the headroom Spark's non-ANSI BIGINT
    sum would wrap while DuckDB's (int128-backed) CAST raises, so for
    wider buckets truncate the digest further rather than widening
    bucket_size past ~1M rows.  Summation makes
    the checksum independent of row order and partitioning, so two
    independently-computed sides compare equal iff their content does
    (up to 40-bit collisions — a diff detector, not a proof).

    Scale: map-only digest + one bucket-keyed aggregate, map-side
    combined."""
    canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    digest = F.conv(F.substring(F.md5(canon), 1, 10), 16, 10).cast("bigint")
    return (
        df.groupBy(F.expr(f"{key_col} div {bucket_size}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(digest).alias("checksum"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("checksum").cast("bigint").alias("checksum"),
        )
    )


#: Benford first-digit probabilities log10(1 + 1/d), d = 1..9 — shared
#: double literals; the query twins inline the SAME decimal text so
#: both engines parse the identical IEEE value
BENFORD_P = (
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
)


def benford_audit(df: DataFrame, value_micro_col: str) -> DataFrame:
    """Benford's-law first-digit audit over a POSITIVE integer column
    (micro/cent units): observed count per leading digit vs the
    Benford expectation — the classic fabricated-data screen.

    The leading digit is taken from the integer's decimal string
    (identical formatting in both engines — no log10 on doubles, no
    transcendental divergence); expected counts are ``N * p_d`` with
    the shared literal probabilities.  One 9-group map-side-combined
    aggregate plus a 1-row total join — bounded work at any scale."""
    digits = (
        df.filter(F.col(value_micro_col) > 0)
        .select(F.substring(F.col(value_micro_col).cast("string"), 1, 1)
                .cast("bigint").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    p = F.element_at(F.array(*[F.lit(x) for x in BENFORD_P]),
                     F.col("digit").cast("int"))
    return (
        digits.crossJoin(F.broadcast(total))  # 1-row total
        .select(
            "digit", "n_obs", "n_total",
            (F.col("n_total").cast("double") * p).alias("expected"),
            (F.col("n_obs").cast("double")
             - F.col("n_total").cast("double") * p).alias("excess"),
        )
    )


def fd_audit(df: DataFrame, det_col: str, dep_col: str,
             fd_name: str) -> DataFrame:
    """Functional-dependency audit (Metanome-style profiling): does
    ``det_col -> dep_col`` hold?  Returns one row: total determinant
    groups, groups with >1 distinct dependent value (violations), the
    worst group's distinct count, and the violation rate.

    One two-level aggregate (group by determinant with an exact
    distinct count, then a 1-row rollup) — both map-side combinable;
    the audit costs one pass regardless of corpus size."""
    g = df.groupBy(F.col(det_col).alias("det")).agg(
        F.countDistinct(F.col(dep_col)).alias("n_dep"))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_violating"),
        F.max("n_dep").cast("bigint").alias("max_distinct"),
    ).select(
        F.lit(fd_name).alias("fd"),
        "n_groups", "n_violating", "max_distinct",
        (F.col("n_violating").cast("double")
         / F.col("n_groups").cast("double")).alias("violation_rate"),
    )


def t_closeness(df: DataFrame, qi_cols: "list[str]",
                sensitive_col: str) -> DataFrame:
    """t-closeness audit (privacy): per quasi-identifier group, the
    total variation distance between the group's sensitive-value
    distribution and the global one —
    ``tvd = 1/2 * sum_v |c_gv/n_g - C_v/N|``.

    Integer-exact core: multiply through by ``n_g * N`` so the
    numerator is ``sum_v |c_gv*N - C_v*n_g|`` over BIGINTs, and absent
    values (c_gv = 0) are folded in algebraically —
    ``numer = sum_present(|c_gv*N - C_v*n_g| - C_v*n_g) + N*n_g`` —
    so no group x domain cross join is ever materialized.  The only
    float op is the final ``numer / (2*n_g*N)`` division.  Magnitude
    guard: n_g*N must stay under 2^63 (and 2^53 for the exact double
    cast) — at planetary scale run per-partition or on a sampled
    frame.  Complements k-anonymity / l-diversity (same module):
    those count; this one compares distributions."""
    gv = df.groupBy(
        *[F.col(c) for c in qi_cols], F.col(sensitive_col).alias("_v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c_gv"))
    glob = df.groupBy(F.col(sensitive_col).alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_v"))
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    # the absolute terms need n_g, so two passes over the (already
    # group-x-value-bounded) gv table: sizes first, then the scaled sum
    sizes = gv.groupBy(*qi_cols).agg(
        F.sum("c_gv").cast("bigint").alias("n_g"))
    scaled = (
        gv.join(F.broadcast(glob), "_v")
        .join(sizes, qi_cols)
        .crossJoin(F.broadcast(total))
        .groupBy(*qi_cols)
        .agg(
            F.max("n_g").alias("n_g"),
            F.max("n_total").alias("n_total"),
            F.sum(
                F.abs(F.col("c_gv") * F.col("n_total")
                      - F.col("c_v") * F.col("n_g"))
                - F.col("c_v") * F.col("n_g")
            ).cast("bigint").alias("present_sum"),
        )
    )
    return scaled.select(
        *qi_cols, "n_g",
        (F.col("present_sum")
         + F.col("n_total") * F.col("n_g")).alias("numer"),
        ((F.col("present_sum")
          + F.col("n_total") * F.col("n_g")).cast("double")
         / (F.lit(2.0) * F.col("n_g").cast("double")
            * F.col("n_total").cast("double"))).alias("tvd"),
    )


def generalize_to_k(
    df: DataFrame,
    cat_col: str,
    num_col: str,
    widths: "list[int]",
    k: int = 5,
) -> DataFrame:
    """Minimal-generalization search for k-anonymity: for each
    candidate bucket width over the numeric quasi-identifier (the
    categorical one kept as-is), the equivalence-class profile
    (group count, minimum class size, whether k is met) and a flag on
    the SMALLEST width that achieves k — the generalization a privacy
    pipeline would publish at.

    Scale shape: ONE corpus-sized aggregate at the finest width; every
    coarser width re-aggregates the finest bucket table (coarser
    buckets are unions of finer ones when widths are nested
    multiples), so corpus cost is a single pass no matter how many
    widths are probed.  ``widths`` must be ascending and each a
    multiple of the first.  All integers.  Returns one row per width:
    (width, n_classes, min_class, achieves_k, chosen)."""
    from pyspark.sql import Window

    base_w = widths[0]
    fine = df.groupBy(
        F.col(cat_col).alias("cat"),
        F.expr(f"{num_col} div {base_w}").alias("b"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per_width = None
    for w in widths:
        assert w % base_w == 0, "widths must nest"
        prof = (
            fine.groupBy("cat",
                         F.expr(f"b div {w // base_w}").alias("bw"))
            .agg(F.sum("c").cast("bigint").alias("cc"))
            .agg(F.lit(w).cast("bigint").alias("width"),
                 F.count(F.lit(1)).cast("bigint").alias("n_classes"),
                 F.min("cc").cast("bigint").alias("min_class"))
        )
        per_width = prof if per_width is None \
            else per_width.unionByName(prof)
    flagged = per_width.select(
        "*", (F.col("min_class") >= k).alias("achieves_k"))
    best = F.min(F.when(F.col("achieves_k"), F.col("width"))).over(
        Window.partitionBy())
    return flagged.select(
        "width", "n_classes", "min_class", "achieves_k",
        F.coalesce(F.col("width") == best, F.lit(False))
        .alias("chosen"),
    )
