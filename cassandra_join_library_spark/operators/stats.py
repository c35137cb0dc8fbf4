"""Exact relational statistics: contingency chi-square, integer-exact
autocorrelation, closed-form per-group OLS, two-proportion z-tests,
and a 2-D Pareto skyline.

The reference (widyaput/Cassandra-Join-Library) has no statistics
surface at all (SURVEY.md §2.6) — these are the extension operators a
training-data pipeline runs for drift detection, feature screening,
and experiment readouts, expressed as bounded DataFrame aggregates.

Parity discipline (repo conventions): every statistic is either a
pure integer (BIGINT sums over micro/cent units — exact under any
partitioning and identical to DuckDB's by construction) or a FIXED
IEEE-754 expression tree over such integers (one multiplication/
division chain both engines evaluate bit-identically; sqrt is
correctly rounded in both).  No transcendental functions anywhere —
logs/exps would differ in the last ulp between libm builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# rounded non-negative integer division (half away from zero) — the
# same macro contract as operators/graph.py.  Outer-parenthesized so
# the macro can be embedded after a binary minus (see
# queries/_shared.py _rdiv_sql for the precedence bug this prevents).
_RDIV = ("((({a}) div ({b})) + "
         "(CASE WHEN 2 * (({a}) % ({b})) >= ({b}) THEN 1 ELSE 0 END))")


def staged_ppm(num: str, den: str, intdiv: str = "div") -> str:
    """Rounded |num|/den in PPM via two ×1000 long-division steps,
    sign restored — the overflow-safe form of ``_RDIV`` with a 1e6
    multiplier: a naive ``1e6 * num`` wraps int64 once num > ~9.2e12,
    while staging through the remainder keeps every intermediate
    ≤ 1000·den (measured failing at the 60M-row sf10 run; the staged
    form holds to den ~ 9e15).  ``intdiv`` is ``div`` for Spark SQL
    and ``//`` for the DuckDB oracle twin — the only dialect
    difference."""
    d = intdiv
    return (
        f"(CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END) * ("
        f"1000 * ((1000 * abs({num})) {d} ({den}))"
        f" + ((1000 * ((1000 * abs({num})) % ({den}))) {d} ({den}))"
        f" + (CASE WHEN 2 * ((1000 * ((1000 * abs({num})) % ({den})))"
        f" % ({den})) >= ({den}) THEN 1 ELSE 0 END))"
    )


def contingency_chi_square(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Per-cell chi-square decomposition of a two-way contingency
    table: observed count, marginals, expected count, and the cell's
    chi-square contribution ``(obs-exp)^2 / exp``.

    Shape: one corpus-sized aggregate (the cell counts, map-side
    combined), then broadcast joins against the two marginal vectors
    and the 1-row grand total — all bounded by the categorical
    domains, never by row count.  The per-cell contributions are the
    drill-down a drift monitor reads; summing their DECIMAL-rounded
    values gives the statistic itself without an order-dependent
    double sum."""
    obs = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    rows = df.groupBy(F.col(row_col).alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_row"))
    cols = df.groupBy(F.col(col_col).alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_col"))
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    out = (
        obs.join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .crossJoin(F.broadcast(total))  # 1-row grand total
    )
    # fixed IEEE tree: (row*col)/total, then ((obs-exp)^2)/exp — the
    # identical expression text runs on the DuckDB side
    exp_ = (F.col("n_row").cast("double") * F.col("n_col").cast("double")
            / F.col("n_total").cast("double"))
    dev = F.col("n_obs").cast("double") - exp_
    return out.select(
        "r", "c", "n_obs", "n_row", "n_col", "n_total",
        exp_.alias("expected"),
        ((dev * dev) / exp_).alias("contrib"),
    )


def _with_sum_count(series: DataFrame, value_col: str) -> DataFrame:
    """``series`` with the BIGINT sum ``s`` and row count ``n`` of
    ``value_col`` broadcast onto every row."""
    stats = series.agg(
        F.sum(value_col).cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    return series.crossJoin(F.broadcast(stats))


def autocorr_integer(
    series: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation of an INTEGER-valued series at lags 1..max_lag,
    exactly: deviations are taken against the rounded integer mean
    (one rounded division — the 'integer-centered' autocorrelation,
    identical on both engines by construction), numerator and
    denominator are BIGINT sums of deviation products, and the only
    floating-point operation is the final num/den division.

    ``series`` must already be aggregated to one row per ``order_col``
    (e.g. a daily rollup) — calendar-bounded, so the single ordering
    window is over thousands of rows regardless of corpus size; the
    corpus-sized work is the upstream rollup.

    Returns (lag, n_pairs, num, den, autocorr)."""
    withm = _with_sum_count(series, value_col).select(
        F.col(order_col).alias("_ord"),
        (F.col(value_col)
         - F.expr(_RDIV.format(a="s", b="n"))).alias("dev"),
    )
    w = Window.orderBy("_ord")
    lead_cols = [F.lead("dev", k).over(w).alias(f"dev_{k}")
                 for k in range(1, max_lag + 1)]
    led = withm.select("dev", *lead_cols)
    stack = ", ".join(
        f"{k}, dev_{k}" for k in range(1, max_lag + 1))
    pairs = led.select(
        "dev",
        F.expr(f"stack({max_lag}, {stack}) AS (lag, dev_k)"))
    den = withm.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("bigint").alias("den"))
    out = (
        pairs.filter(F.col("dev_k").isNotNull())
        .groupBy("lag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
             F.sum(F.col("dev") * F.col("dev_k")).cast("bigint")
             .alias("num"))
        .crossJoin(F.broadcast(den))  # 1-row denominator
    )
    # zero-variance series: den = 0 -> NULL autocorr (DuckDB's double
    # division-by-zero semantics), never an ANSI raise
    return out.select(
        F.col("lag").cast("bigint").alias("lag_k"), "n_pairs", "num", "den",
        F.when(F.col("den") != 0,
               F.col("num").cast("double") / F.col("den").cast("double"))
        .alias("autocorr"),
    )


def ols_per_group(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Closed-form simple linear regression per group, in the
    CENTERED form ``slope = (Sxy - Sx*Sy/n) / (Sxx - Sx^2/n)`` —
    the double divisions happen BEFORE any cross-product, so BIGINT
    headroom is governed by the raw sums alone (the textbook
    ``n*Sxy`` form overflowed int64 at ~6M cent-valued rows per
    group — measured at sf1, fixed here; same centered trick as
    :func:`corr_pairs_integer`).  x and y must be INTEGER columns
    (cents/micro-units) so the five sufficient statistics are exact
    BIGINT sums under any partitioning; slope/intercept are then one
    FIXED IEEE tree both engines evaluate identically.  One
    map-side-combinable aggregate — the 100 TB cost is a single
    pass, state is 5 numbers per group."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(x_col)).cast("bigint").alias("sx"),
        F.sum(F.col(y_col)).cast("bigint").alias("sy"),
        F.sum(F.col(x_col) * F.col(y_col)).cast("bigint").alias("sxy"),
        F.sum(F.col(x_col) * F.col(x_col)).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    num = (F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double") / nd)
    den = (F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double") / nd)
    slope = F.when(den != 0, num / den)
    intercept = F.when(
        den != 0,
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / nd)
    return g.select("grp", "n", "sx", "sy", "sxy", "sxx",
                    slope.alias("slope"), intercept.alias("intercept"))


def two_proportion_z(
    df: DataFrame, variant_col: str, success_col: str
) -> DataFrame:
    """Two-proportion z-test readout: one row with per-variant trials
    and successes, the two rates, and the pooled z statistic
    ``(p1-p0) / sqrt(pp*(1-pp)*(1/n0+1/n1))``.

    ``variant_col`` must be 0/1; ``success_col`` 0/1 per trial row.
    Counts are exact integers; the z expression is a fixed IEEE tree
    (divisions + one sqrt, both correctly rounded in Spark and
    DuckDB).  Single map-side-combinable aggregate — the experiment
    readout costs one pass at any scale."""
    agg = df.agg(
        F.sum(F.when(F.col(variant_col) == 0, 1).otherwise(0))
        .cast("bigint").alias("n0"),
        F.sum(F.when((F.col(variant_col) == 0)
                     & (F.col(success_col) == 1), 1).otherwise(0))
        .cast("bigint").alias("x0"),
        F.sum(F.when(F.col(variant_col) == 1, 1).otherwise(0))
        .cast("bigint").alias("n1"),
        F.sum(F.when((F.col(variant_col) == 1)
                     & (F.col(success_col) == 1), 1).otherwise(0))
        .cast("bigint").alias("x1"),
    )
    p0 = F.col("x0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    pp = ((F.col("x0") + F.col("x1")).cast("double")
          / (F.col("n0") + F.col("n1")).cast("double"))
    se = F.sqrt(pp * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n0").cast("double")
                   + F.lit(1.0) / F.col("n1").cast("double")))
    # degenerate pooled rate (0 or 1) has se = 0: NULL z, matching
    # DuckDB's double-division-by-zero semantics (NULL, not a raise —
    # Spark's ANSI mode would error instead)
    return agg.select(
        "n0", "x0", "n1", "x1",
        p0.alias("p0"), p1.alias("p1"),
        F.when(se > 0, (p1 - p0) / se).alias("z"),
    )


def pareto_frontier_2d(
    df: DataFrame, id_col: str, min_col: str, max_col: str
) -> DataFrame:
    """2-D Pareto skyline: rows not dominated by any other row, where
    domination means (min_col <=, max_col >=) with at least one
    strict.  Ties on both dimensions survive together (neither
    strictly dominates).

    Scale shape — NOT the O(n^2) NOT-EXISTS self-join the SQL
    definition suggests: first a ``min_col``-keyed aggregate collapses
    the corpus to one row per distinct min-value (domain-bounded for
    fixed-precision prices), then one ordered window over that
    aggregate computes the running best ``max_col`` among strictly
    better min-values, and a semi-join brings back the surviving
    rows.  The corpus-sized steps are the aggregate and the final
    join; the global window runs over the distinct-value table only.

    Returns the input's (id, min_col, max_col) frontier rows."""
    pm = df.groupBy(F.col(min_col).alias("_m")).agg(
        F.max(F.col(max_col)).alias("_best"))
    w = (Window.orderBy("_m")
         .rowsBetween(Window.unboundedPreceding, -1))
    # a min-value survives iff its best max strictly exceeds every
    # cheaper min-value's best max
    front = pm.select(
        "_m", "_best", F.max("_best").over(w).alias("_prior")
    ).filter(F.col("_prior").isNull() | (F.col("_best") > F.col("_prior")))
    return (
        df.join(
            F.broadcast(front.select("_m", "_best")),
            (F.col(min_col) == F.col("_m"))
            & (F.col(max_col) == F.col("_best")))
        .select(id_col, min_col, max_col)
    )


def phi_binary(
    df: DataFrame, a_col: str, b_col: str, pair_name: str
) -> DataFrame:
    """Phi coefficient (Pearson correlation of two 0/1 features):
    the 2x2 cell counts and
    ``phi = (n11*n00 - n10*n01) / (sqrt(r1*r0) * sqrt(c1*c0))`` —
    the feature co-occurrence screen a pipeline runs before treating
    signals as independent.  One map-side-combinable aggregate; the
    marginals are sqrt'ed in PAIRS (the single 4-way product
    overflowed int64 at ~55k rows — measured at sf1, fixed here; the
    pairwise products stay under 2^63 to ~3e9 rows).  NULL phi on a
    degenerate marginal.  Returns one row per call."""
    agg = df.agg(
        F.sum(F.when((F.col(a_col) == 1) & (F.col(b_col) == 1), 1)
              .otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when((F.col(a_col) == 1) & (F.col(b_col) == 0), 1)
              .otherwise(0)).cast("bigint").alias("n10"),
        F.sum(F.when((F.col(a_col) == 0) & (F.col(b_col) == 1), 1)
              .otherwise(0)).cast("bigint").alias("n01"),
        F.sum(F.when((F.col(a_col) == 0) & (F.col(b_col) == 0), 1)
              .otherwise(0)).cast("bigint").alias("n00"),
    )
    r1 = F.col("n11") + F.col("n10")
    r0 = F.col("n01") + F.col("n00")
    c1 = F.col("n11") + F.col("n01")
    c0 = F.col("n10") + F.col("n00")
    num = F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01")
    dr = r1 * r0
    dc = c1 * c0
    return agg.select(
        F.lit(pair_name).alias("pair"),
        "n11", "n10", "n01", "n00",
        F.when((dr > 0) & (dc > 0),
               num.cast("double")
               / (F.sqrt(dr.cast("double")) * F.sqrt(dc.cast("double"))))
        .alias("phi"),
    )


def ks_two_sample_integer(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic, integer-exact:
    ``D = max_x |F1(x) - F2(x)|`` maximized as
    ``max |cum1*n2 - cum2*n1|`` over the distinct values of the
    combined sample (the CDFs only change there), divided once at the
    end.  ``group_col`` must be 0/1; ``value_col`` integer units.

    Scale shape: one value-keyed aggregate collapses the corpus to
    its distinct-value table (domain-bounded for fixed-precision
    units), one ordered window over THAT computes both running CDFs,
    then a 1-row argmax (min value on ties — deterministic).
    ``cum*n`` stays under 2^63 while n1*n2 < 2^63 — beyond ~3e9 rows
    per side move the products to DECIMAL.  Returns one row:
    (n1, n2, d_num, at_value, d)."""
    per_v = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(group_col) == 0, 1).otherwise(0))
        .cast("bigint").alias("c1"),
        F.sum(F.when(F.col(group_col) == 1, 1).otherwise(0))
        .cast("bigint").alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cums = per_v.select(
        "v",
        F.sum("c1").over(w).cast("bigint").alias("cum1"),
        F.sum("c2").over(w).cast("bigint").alias("cum2"),
    )
    totals = per_v.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"))
    gaps = cums.crossJoin(F.broadcast(totals)).select(
        "v", "n1", "n2",
        F.abs(F.col("cum1") * F.col("n2")
              - F.col("cum2") * F.col("n1")).alias("gap"),
    )
    best = gaps.groupBy("n1", "n2").agg(
        F.max("gap").cast("bigint").alias("d_num"))
    return (
        gaps.join(F.broadcast(best), ["n1", "n2"])
        .filter(F.col("gap") == F.col("d_num"))
        .groupBy("n1", "n2", "d_num")
        .agg(F.min("v").cast("bigint").alias("at_value"))
        .select(
            "n1", "n2", "d_num", "at_value",
            F.when(
                (F.col("n1") > 0) & (F.col("n2") > 0),
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")))
            .alias("d"),
        )
    )


def gini_grouped(
    df: DataFrame, value_col: str, bucket_width: int
) -> DataFrame:
    """Gini coefficient from grouped data: values are bucketed to
    ``value div bucket_width`` (within-bucket equality — the standard
    grouped-Gini estimator), per-bucket (count, sum) aggregated, and
    the Lorenz trapezoid sum computed over the BUCKET table:
    ``G = 1 - sum_b c_b*(2*cumS_b - s_b) / (N*S)``.

    The corpus-sized work is one bucket-keyed aggregate; the ordered
    window runs over the value-domain-bounded bucket table.  All
    sums BIGINT (c_b * cumS_b must stay under 2^63 — at planetary
    scale widen buckets or use DECIMAL); G is one final division.
    Returns one row: (n, total, n_buckets, gini_num, gini)."""
    per_b = df.groupBy(
        F.expr(f"{value_col} div {bucket_width}").alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(value_col).cast("bigint").alias("s"),
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    terms = per_b.select(
        "b", "c", "s",
        (F.col("c") * (F.lit(2) * F.sum("s").over(w) - F.col("s")))
        .alias("term"),
    )
    return terms.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("term").cast("bigint").alias("gini_num"),
    ).select(
        "n", "total", "n_buckets", "gini_num",
        (F.lit(1.0)
         - F.col("gini_num").cast("double")
         / (F.col("n").cast("double") * F.col("total").cast("double")))
        .alias("gini"),
    )


def weighted_median_grouped(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Lower weighted median per group: the smallest value v such that
    the cumulative weight through v reaches half the group's total
    weight (``2 * cumw >= totw`` — the deterministic integer rule, no
    midpoint averaging, so the result is always an observed value and
    identical across engines).

    Scale shape: the corpus-sized work is ONE (group, value)-keyed
    aggregate collapsing rows to per-value weight sums (domain-bounded
    for fixed-precision units); the cumulative window then runs
    per-group over that collapsed table, partitioned on the group key.
    Values and weights must be integers; everything stays BIGINT.
    Returns (grp, totw, n_values, median)."""
    per_v = df.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).agg(F.sum(weight_col).cast("bigint").alias("w"))
    win = (Window.partitionBy("grp").orderBy("v")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per_v.select(
        "grp", "v", "w",
        F.sum("w").over(win).cast("bigint").alias("cumw"),
        F.sum("w").over(Window.partitionBy("grp"))
        .cast("bigint").alias("totw"),
        F.count(F.lit(1)).over(Window.partitionBy("grp"))
        .cast("bigint").alias("n_values"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("grp", "totw", "n_values")
        .agg(F.min("v").cast("bigint").alias("median"))
    )


def corr_pairs_integer(
    df: DataFrame, cols: dict[str, "F.Column"]
) -> DataFrame:
    """Pairwise Pearson correlations over named INTEGER measures via
    one aggregate of sufficient statistics (n, sums, sums of squares,
    cross sums — all exact BIGINTs under any partitioning), unpivoted
    to one row per unordered pair.

    The correlation uses the CENTERED form
    ``(sab - sa*sb/n) / (sqrt(saa - sa^2/n) * sqrt(sbb - sb^2/n))``
    — a fixed IEEE tree whose integer inputs never need the ``n *``
    products of the textbook form, so BIGINT headroom is governed by
    the raw sums alone (sum of x² must fit 2^63: with values <= 10^5
    that is ~1e9 rows; feed coarser units or DECIMAL sums beyond).
    Corpus cost is ONE map-side-combinable pass regardless of the
    number of measures.  Returns
    (pair, n, sa, sb, saa, sbb, sab, corr)."""
    names = list(cols)
    proj = df.select(*[expr.alias(k) for k, expr in cols.items()])
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for k in names:
        aggs.append(F.sum(F.col(k)).cast("bigint").alias(f"s_{k}"))
        aggs.append(F.sum(F.col(k) * F.col(k)).cast("bigint")
                    .alias(f"ss_{k}"))
    pairs = [(a, b) for i, a in enumerate(names)
             for b in names[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).cast("bigint")
                    .alias(f"sx_{a}_{b}"))
    g = proj.agg(*aggs)
    stack = ", ".join(
        f"'{a}~{b}', s_{a}, s_{b}, ss_{a}, ss_{b}, sx_{a}_{b}"
        for a, b in pairs)
    wide = g.select(
        "n",
        F.expr(f"stack({len(pairs)}, {stack}) "
               "AS (pair, sa, sb, saa, sbb, sab)"))
    nd = F.col("n").cast("double")
    ca = F.col("saa").cast("double") - (F.col("sa").cast("double")
                                        * F.col("sa").cast("double")) / nd
    cb = F.col("sbb").cast("double") - (F.col("sb").cast("double")
                                        * F.col("sb").cast("double")) / nd
    cab = F.col("sab").cast("double") - (F.col("sa").cast("double")
                                         * F.col("sb").cast("double")) / nd
    return wide.select(
        "pair", "n", "sa", "sb", "saa", "sbb", "sab",
        F.when((ca > 0) & (cb > 0),
               cab / (F.sqrt(ca) * F.sqrt(cb))).alias("corr"),
    )


def did_2x2(
    df: DataFrame, variant_col: str, period_col: str, value_col: str
) -> DataFrame:
    """Difference-in-differences readout over a 2x2 (variant,
    period) design: per-cell trial counts and integer-value sums, the
    four rounded per-cell means in micro-units, and the DiD estimate
    ``(m11 - m10) - (m01 - m00)`` — treatment lift net of the secular
    trend.

    ``variant_col``/``period_col`` must be 0/1; ``value_col`` an
    integer unit (cents).  One map-side-combinable aggregate; the
    means use the repo's rounded integer division so the estimate is
    a pure BIGINT, identical in SQL.  ``1e6 * sum`` must fit BIGINT
    (sum < 9.2e12 — switch to milli-unit means beyond).  Returns one
    row: (n00..n11, s00..s11, m00..m11 micro, did_micro)."""
    cells = []
    for v in (0, 1):
        for p in (0, 1):
            tag = f"{v}{p}"
            cond = (F.col(variant_col) == v) & (F.col(period_col) == p)
            cells.append(F.sum(F.when(cond, 1).otherwise(0))
                         .cast("bigint").alias(f"n{tag}"))
            cells.append(F.sum(F.when(cond, F.col(value_col))
                               .otherwise(0))
                         .cast("bigint").alias(f"s{tag}"))
    agg = df.agg(*cells)
    means = [
        F.when(F.col(f"n{t}") > 0,
               F.expr(_RDIV.format(a=f"1000000 * s{t}", b=f"n{t}")))
        .cast("bigint").alias(f"m{t}")
        for t in ("00", "01", "10", "11")
    ]
    out = agg.select("*", *means)
    return out.select(
        "*",
        ((F.col("m11") - F.col("m10"))
         - (F.col("m01") - F.col("m00"))).cast("bigint")
        .alias("did_micro"),
    )


def nearest_value_topk(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """For each row, its ``k`` nearest OTHER rows by value within the
    group — EXACT via the sorted-neighborhood identity: in value
    order, the k nearest values of a row are always among its 2k
    positional neighbors, so 2k LAG/LEADs per row replace the
    quadratic theta self-join entirely.

    One group-partitioned window sort is the only corpus-sized work;
    fanout is a fixed 2k per row, then a per-row rank keeps k.  Ties
    on distance break by (neighbor value, neighbor id) — fully
    deterministic, identical in SQL.  Integer values; distance stays
    BIGINT.  Returns (grp, id, value, neighbor_id, neighbor_value,
    dist, rk)."""
    w = Window.partitionBy("grp").orderBy("v", "id")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("bigint").alias("v"),
    )
    # window expressions are not allowed inside a generator input:
    # project the 2k neighbor structs first, then explode the array
    nbrs = [
        off(F.struct(F.col("v").alias("nv"), F.col("id").alias("nid")),
            j).over(w).alias(f"nb_{j}_{off.__name__}")
        for j in range(1, k + 1) for off in (F.lag, F.lead)
    ]
    projected = base.select("grp", "id", "v", *nbrs)
    nb_cols = [f"nb_{j}_{off}" for j in range(1, k + 1)
               for off in ("lag", "lead")]
    exploded = (
        projected.select(
            "grp", "id", "v",
            F.explode(F.array(*[F.col(c) for c in nb_cols])).alias("nb"))
        .filter(F.col("nb").isNotNull() & F.col("nb.nid").isNotNull())
        .select("grp", "id", "v",
                F.col("nb.nid").alias("neighbor_id"),
                F.col("nb.nv").alias("neighbor_value"),
                F.abs(F.col("v") - F.col("nb.nv")).alias("dist"))
    )
    rw = Window.partitionBy("grp", "id").orderBy(
        "dist", "neighbor_value", "neighbor_id")
    return (
        exploded.select(
            "grp", "id", F.col("v").alias("value"),
            "neighbor_id", "neighbor_value", "dist",
            F.row_number().over(rw).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= k)
    )
