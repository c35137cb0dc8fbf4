"""Statistics, sketches, sampling, profiling and privacy queries.

Exact statistics (chi-square, correlations, OLS, rank tests, bootstrap
and randomization inference) run integer-first: values are scaled to
integer cents or micro-units, divisions are rounded integer divisions
(``_rdiv_sql``) or ppm, and the few float outputs are fixed IEEE
expression trees over exact integers (sqrt and division only), so
DuckDB and Spark produce the same bits.  The portable sketches (HLL,
Count-Min, log-bin quantiles, KMV) hash with md5 prefixes, so the
sketch state itself is value-graded, including its shard merges.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from ..functions.scalars import dsum
from ..operators import profiling as P
from ..operators.basket import association_pairs
from ..operators.profiling import (
    benford_audit, BENFORD_P, bucket_checksums, fd_audit, generalize_to_k,
    t_closeness,
)
from ..operators.sketch import (
    _HLL_NUM, cms_counter_table, cms_counters_sql, CMS_DEPTH, cms_estimate,
    CMS_WIDTH, hll_register_table, hll_registers, hll_registers_sql,
    hll_rollup, logbin_quantiles, logbin_quantiles_grouped, logbin_table,
)
from ..operators.stats import (
    _RDIV, autocorr_integer, contingency_chi_square, corr_pairs_integer,
    ks_two_sample_integer, ols_per_group, phi_binary, staged_ppm,
    weighted_median_grouped,
)
from ..registry import _ORACLES, register
from ..sources.catalog import load_events, load_table
from ._shared import (
    _DAILY_ORDER_VALUE, _daily_order_value, _EPRICE_CENTS, _rdiv_sql,
    _TP_CENTS, _VAL_CENTS,
)
# registers the two raters whose oracles stats_cohens_kappa embeds
from .text import text_c4_line_filter, text_gopher_rules


@register("stats_chi_square_cells", oracle="""
WITH obs AS (
  SELECT o_orderstatus AS r, o_orderpriority AS c,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1, 2
), rows_ AS (
  SELECT o_orderstatus AS r, CAST(COUNT(*) AS BIGINT) AS n_row
  FROM orders GROUP BY 1
), cols_ AS (
  SELECT o_orderpriority AS c, CAST(COUNT(*) AS BIGINT) AS n_col
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM orders
)
SELECT r, c, n_obs, n_row, n_col, n_total,
       CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
         / CAST(n_total AS DOUBLE) AS expected,
       ((CAST(n_obs AS DOUBLE)
         - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
           / CAST(n_total AS DOUBLE))
        * (CAST(n_obs AS DOUBLE)
           - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
             / CAST(n_total AS DOUBLE)))
       / (CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
          / CAST(n_total AS DOUBLE)) AS contrib
FROM obs JOIN rows_ USING (r) JOIN cols_ USING (c) CROSS JOIN tot
""")
def stats_chi_square_cells(spark, sf_dir):
    """Per-cell chi-square decomposition of the order status x
    priority contingency table (operators/stats.py
    contingency_chi_square): observed vs expected counts and each
    cell's contribution — the drill-down a drift monitor reads.  One
    corpus-sized aggregate + broadcast marginal joins; expected /
    contrib are a fixed IEEE tree over exact integer counts."""
    return contingency_chi_square(
        load_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority")


@register("stats_autocorr_daily", oracle=f"""{_DAILY_ORDER_VALUE}, dv AS (
  SELECT day, v - ({_rdiv_sql("st.s", "st.n")}) AS dev
  FROM daily CROSS JOIN st
), den AS (
  SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM dv
), pairs AS (
  {" UNION ALL ".join(
      f"SELECT {k} AS lag_k, dev, "
      f"lead(dev, {k}) OVER (ORDER BY day) AS dev_k FROM dv"
      for k in range(1, 8))}
), agg AS (
  SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(dev * dev_k) AS BIGINT) AS num
  FROM pairs WHERE dev_k IS NOT NULL GROUP BY 1
)
SELECT CAST(lag_k AS BIGINT) AS lag_k, n_pairs, num, den.den,
       CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE) AS autocorr
FROM agg CROSS JOIN den
""")
def stats_autocorr_daily(spark, sf_dir):
    """Autocorrelation of daily order revenue at lags 1..7
    (operators/stats.py autocorr_integer): whole-dollar daily sums,
    deviations against the rounded integer mean, BIGINT
    numerator/denominator — the one float op is the final division.
    The ordering window runs over the calendar-bounded daily rollup,
    never the fact table."""
    daily = _daily_order_value(spark, sf_dir)
    return autocorr_integer(daily, "day", "v", max_lag=7)


_QTY_CENTS = "CAST(CAST(round(l_quantity, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register("stats_ols_by_brand", oracle=f"""
WITH xy AS (
  SELECT p.p_brand AS grp,
         {_QTY_CENTS} AS x, {_EPRICE_CENTS} AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), g AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT grp, n, sx, sy, sxy, sxx,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)) <> 0
            THEN (CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) END AS slope,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)) <> 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                          / CAST(n AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept
FROM g
""")
def stats_ols_by_brand(spark, sf_dir):
    """Per-brand OLS of extended price on quantity
    (operators/stats.py ols_per_group): the five sufficient
    statistics are exact BIGINT sums over cent units (one map-side-
    combinable aggregate after a broadcastable part-dimension join);
    slope/intercept are a fixed two-division IEEE tree.  The
    screening regression a feature pipeline runs per segment in one
    pass."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    xy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("grp"),
                F.expr(_QTY_CENTS).alias("x"),
                F.expr(_EPRICE_CENTS).alias("y"))
    )
    return ols_per_group(xy, "grp", "x", "y")


_PHI_CASE = """CASE WHEN (n11 + n10) * (n01 + n00) > 0
                AND (n11 + n01) * (n10 + n00) > 0
     THEN CAST(n11 * n00 - n10 * n01 AS DOUBLE)
          / (sqrt(CAST((n11 + n10) * (n01 + n00) AS DOUBLE))
             * sqrt(CAST((n11 + n01) * (n10 + n00) AS DOUBLE)))
     END AS phi"""


def _phi_agg_sql(a: str, b: str, name: str) -> str:
    return f"""SELECT '{name}' AS pair,
       CAST(SUM(CASE WHEN {a} = 1 AND {b} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n11,
       CAST(SUM(CASE WHEN {a} = 1 AND {b} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
       CAST(SUM(CASE WHEN {a} = 0 AND {b} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
       CAST(SUM(CASE WHEN {a} = 0 AND {b} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n00
FROM u"""


@register("stats_phi_features", oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   >= 1 THEN 1 ELSE 0 END AS has_error,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) >= 14 THEN 1 ELSE 0 END AS heavy_buyer,
         CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS heavy_viewer
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), cells AS (
  {_phi_agg_sql("has_error", "heavy_buyer", "error~buyer")}
  UNION ALL
  {_phi_agg_sql("has_error", "heavy_viewer", "error~viewer")}
  UNION ALL
  {_phi_agg_sql("heavy_buyer", "heavy_viewer", "buyer~viewer")}
)
SELECT pair, n11, n10, n01, n00, {_PHI_CASE}
FROM cells
""")
def stats_phi_features(spark, sf_dir):
    """Phi coefficients between binary user features (operators/
    stats.py phi_binary): error-prone x heavy-buyer x heavy-viewer —
    the co-occurrence screen a feature pipeline runs before treating
    signals as independent.  One user-keyed aggregate builds the
    flags; each pair is then a single map-side-combinable 2x2 count
    with a fixed sqrt tree."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cnt = lambda t: F.sum(  # noqa: E731 - tiny local helper
        F.when(F.col("event_type") == t, 1).otherwise(0))
    u = ev.groupBy("user_id").agg(
        F.when(cnt("error") >= 1, 1).otherwise(0).alias("has_error"),
        F.when(cnt("purchase") >= 14, 1).otherwise(0).alias("heavy_buyer"),
        F.when(cnt("view") >= 14, 1).otherwise(0).alias("heavy_viewer"),
    )
    return (
        phi_binary(u, "has_error", "heavy_buyer", "error~buyer")
        .unionByName(phi_binary(u, "has_error", "heavy_viewer",
                                "error~viewer"))
        .unionByName(phi_binary(u, "heavy_buyer", "heavy_viewer",
                                "buyer~viewer"))
    )


@register("stats_ks_priority_price", oracle=f"""
WITH pts AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS g,
         {_TP_CENTS} AS v
  FROM orders
), per_v AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM pts GROUP BY 1
), cums AS (
  SELECT v,
         CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER w AS BIGINT) AS cum2
  FROM per_v
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM per_v
), gaps AS (
  SELECT v, n1, n2, abs(cum1 * n2 - cum2 * n1) AS gap
  FROM cums CROSS JOIN tot
), best AS (
  SELECT n1, n2, CAST(MAX(gap) AS BIGINT) AS d_num FROM gaps
  GROUP BY 1, 2
)
SELECT g.n1, g.n2, b.d_num,
       CAST(MIN(g.v) AS BIGINT) AS at_value,
       CASE WHEN g.n1 > 0 AND g.n2 > 0
            THEN CAST(b.d_num AS DOUBLE)
                 / (CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)) END AS d
FROM gaps g JOIN best b ON b.n1 = g.n1 AND b.n2 = g.n2
             AND g.gap = b.d_num
GROUP BY g.n1, g.n2, b.d_num
""")
def stats_ks_priority_price(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between urgent and non-urgent
    order prices (operators/stats.py ks_two_sample_integer) —
    integer-exact: D's numerator is max |cum1*n2 - cum2*n1| over the
    distinct cent values (the only points where either CDF moves),
    one division at the end; argmax value reported with a min-value
    tiebreak.  The distribution-drift test a data pipeline runs
    between cohorts/snapshots.  The window runs over the
    distinct-value aggregate, never the fact table."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
        .alias("g"),
        F.expr(_TP_CENTS).alias("v"))
    return ks_two_sample_integer(o, "g", "v")


@register("stats_weighted_median_brand", oracle=f"""
WITH xw AS (
  SELECT p.p_brand AS grp, {_EPRICE_CENTS} AS v, {_QTY_CENTS} AS w
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), per_v AS (
  SELECT grp, v, CAST(SUM(w) AS BIGINT) AS w
  FROM xw GROUP BY 1, 2
), cum AS (
  SELECT grp, v, w,
         CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumw,
         CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS totw,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_values
  FROM per_v
)
SELECT grp, totw, n_values, CAST(MIN(v) AS BIGINT) AS median
FROM cum WHERE 2 * cumw >= totw
GROUP BY 1, 2, 3
""")
def stats_weighted_median_brand(spark, sf_dir):
    """Quantity-weighted median line price per part brand
    (operators/stats.py weighted_median_grouped): the corpus collapses
    to a (brand, price)-keyed weight table first; the cumulative
    window runs per brand over that collapsed, domain-bounded table.
    Lower-median integer rule — always an observed cent value,
    identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    xw = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("grp"),
        F.expr(_QTY_CENTS).alias("w"),
        F.expr(_EPRICE_CENTS).alias("v"),
    )
    return weighted_median_grouped(xw, "grp", "v", "w")


_DISC_BP = ("CAST(CAST(round(l_discount, 4) AS DECIMAL(8,4)) "
            "* 10000 AS BIGINT)")


_EPRICE_DOLLARS = "CAST(floor(l_extendedprice) AS BIGINT)"


@register("stats_corr_lineitem", oracle=f"""
WITH m AS (
  SELECT {_QTY_CENTS} AS qty, {_EPRICE_DOLLARS} AS price,
         {_DISC_BP} AS disc
  FROM lineitem
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qty) AS BIGINT) AS s_qty,
         CAST(SUM(qty * qty) AS BIGINT) AS ss_qty,
         CAST(SUM(price) AS BIGINT) AS s_price,
         CAST(SUM(price * price) AS BIGINT) AS ss_price,
         CAST(SUM(disc) AS BIGINT) AS s_disc,
         CAST(SUM(disc * disc) AS BIGINT) AS ss_disc,
         CAST(SUM(qty * price) AS BIGINT) AS sx_qty_price,
         CAST(SUM(qty * disc) AS BIGINT) AS sx_qty_disc,
         CAST(SUM(price * disc) AS BIGINT) AS sx_price_disc
  FROM m
), pairs AS (
  SELECT 'qty~price' AS pair, n, s_qty AS sa, s_price AS sb,
         ss_qty AS saa, ss_price AS sbb, sx_qty_price AS sab FROM g
  UNION ALL
  SELECT 'qty~disc', n, s_qty, s_disc, ss_qty, ss_disc, sx_qty_disc
  FROM g
  UNION ALL
  SELECT 'price~disc', n, s_price, s_disc, ss_price, ss_disc,
         sx_price_disc FROM g
)
SELECT pair, n, sa, sb, saa, sbb, sab,
       CASE WHEN (CAST(saa AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                    / CAST(n AS DOUBLE)) > 0
             AND (CAST(sbb AS DOUBLE)
                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                    / CAST(n AS DOUBLE)) > 0
            THEN (CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (sqrt(CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                           / CAST(n AS DOUBLE))
                    * sqrt(CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                             / CAST(n AS DOUBLE)))
       END AS corr
FROM pairs
""")
def stats_corr_lineitem(spark, sf_dir):
    """Pairwise Pearson correlations over (quantity cents, price
    dollars, discount basis points) via ONE sufficient-statistics
    aggregate (operators/stats.py corr_pairs_integer), unpivoted to a
    pair per row.  Centered-form correlation keeps every integer
    inside BIGINT (no n*sum products); the divisions and sqrts are a
    fixed IEEE tree evaluated identically by DuckDB."""
    li = load_table(spark, sf_dir, "lineitem")
    return corr_pairs_integer(li, {
        "qty": F.expr(_QTY_CENTS),
        "price": F.expr(_EPRICE_DOLLARS),
        "disc": F.expr(_DISC_BP),
    })


@register("stats_mode_per_group", oracle="""
WITH counts AS (
  SELECT c_nationkey AS nation, c_mktsegment AS seg,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), ranked AS (
  SELECT nation, seg, n,
         ROW_NUMBER() OVER (PARTITION BY nation
           ORDER BY n DESC, seg) AS rk
  FROM counts
)
SELECT CAST(nation AS BIGINT) AS nation, seg AS mode_segment, n
FROM ranked WHERE rk = 1
""")
def stats_mode_per_group(spark, sf_dir):
    """Mode (most frequent categorical value) per group with a
    deterministic tie rule (count desc, then value): the holistic
    aggregate SQL lacks natively, as one grouped count + a
    group-partitioned rank over the domain-bounded count table."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = counts.select(
        "nation", "seg", "n",
        F.row_number().over(
            Window.partitionBy("nation").orderBy(F.desc("n"), "seg")
        ).alias("rk"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        F.col("nation").cast("bigint").alias("nation"),
        F.col("seg").alias("mode_segment"), "n")


@register("stats_rank_corr", oracle=f"""
WITH m AS (
  SELECT {_QTY_CENTS} AS x, {_DISC_BP} AS y FROM lineitem
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f FROM m GROUP BY 1, 2
), xm AS (
  SELECT x, CAST(SUM(f) AS BIGINT) AS fx,
         2 * COALESCE(SUM(SUM(f)) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) + SUM(f) + 1 AS rx2
  FROM cells GROUP BY x
), ym AS (
  SELECT y, CAST(SUM(f) AS BIGINT) AS fy,
         2 * COALESCE(SUM(SUM(f)) OVER (
           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) + SUM(f) + 1 AS fy2
  FROM cells GROUP BY y
), tot AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n FROM cells
), dx AS (
  SELECT x, fx, CAST(rx2 - (SELECT n + 1 FROM tot) AS BIGINT) AS d
  FROM xm
), dy AS (
  SELECT y, fy, CAST(fy2 - (SELECT n + 1 FROM tot) AS BIGINT) AS d
  FROM ym
), sp AS (
  SELECT
    SUM(CAST(c.f AS DECIMAL(10,0))
        * CAST(CAST(dx.d AS DECIMAL(14,0))
               * CAST(dy.d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS sxy
  FROM cells c JOIN dx ON dx.x = c.x JOIN dy ON dy.y = c.y
), sxx_t AS (
  SELECT SUM(CAST(fx AS DECIMAL(10,0))
             * CAST(CAST(d AS DECIMAL(14,0))
                    * CAST(d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS sxx,
         SUM(CAST(fx AS DECIMAL(19,0))
             * CAST(fx - 1 AS DECIMAL(19,0))) AS tiesx
  FROM dx
), syy_t AS (
  SELECT SUM(CAST(fy AS DECIMAL(10,0))
             * CAST(CAST(d AS DECIMAL(14,0))
                    * CAST(d AS DECIMAL(14,0)) AS DECIMAL(28,0))) AS syy,
         SUM(CAST(fy AS DECIMAL(19,0))
             * CAST(fy - 1 AS DECIMAL(19,0))) AS tiesy
  FROM dy
), cd AS (
  SELECT
    SUM(CASE WHEN b.y > a.y
        THEN CAST(a.f AS DECIMAL(19,0)) * CAST(b.f AS DECIMAL(19,0))
        ELSE CAST(0 AS DECIMAL(19,0)) END) AS c_pairs,
    SUM(CASE WHEN b.y < a.y
        THEN CAST(a.f AS DECIMAL(19,0)) * CAST(b.f AS DECIMAL(19,0))
        ELSE CAST(0 AS DECIMAL(19,0)) END) AS d_pairs
  FROM cells a JOIN cells b ON b.x > a.x
)
SELECT n,
       CAST((SELECT COUNT(*) FROM dx) AS BIGINT) AS n_x_values,
       CAST((SELECT COUNT(*) FROM dy) AS BIGINT) AS n_y_values,
       CAST(CAST(sxy AS DOUBLE)
            / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
            AS DOUBLE) AS rho_spearman,
       CAST(2.0 * CAST(c_pairs - d_pairs AS DOUBLE)
            / sqrt(CAST(CAST(n AS DECIMAL(19,0))
                        * CAST(n - 1 AS DECIMAL(19,0))
                        - tiesx AS DOUBLE)
                   * CAST(CAST(n AS DECIMAL(19,0))
                          * CAST(n - 1 AS DECIMAL(19,0))
                          - tiesy AS DOUBLE))
            AS DOUBLE) AS tau_b
FROM tot, sp, sxx_t, syy_t, cd
""")
def stats_rank_corr(spark, sf_dir):
    """Exact Spearman rho AND Kendall tau-b over bounded-cardinality
    measures (quantity cents x discount basis points) WITHOUT the
    naive global rank window: one corpus-sized groupBy builds the
    joint contingency table (|X|x|Y| <= ~550 cells), and every rank
    statistic derives from cell/marginal frequencies — doubled
    average ranks (2r = 2*cum_before + f + 1, integers even under
    ties) centered at their exact mean n+1, so the rank sums vanish
    and rho = Sxy / sqrt(Sxx*Syy) over DECIMAL(38,0) sufficient
    statistics (exact to ~1e10 rows; beyond that the decimal sums
    merge across shards).  Kendall's concordant/discordant pairs come
    from the cell-table self-join (b.x > a.x — bounded |cells|^2, not
    corpus^2) with tie corrections from the marginals.  At 100 TB
    the only data-sized pass is the first groupBy; a window-rank
    implementation would globally sort the fact table twice.
    Continuous measures would first quantize (the standard
    tie-corrected treatment)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(F.expr(_QTY_CENTS).alias("x"),
                  F.expr(_DISC_BP).alias("y"))
    cells = (m.groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("bigint").alias("f")))

    def marginal(key):
        w = (Window.orderBy(key)
             .rowsBetween(Window.unboundedPreceding, -1))
        return (
            cells.groupBy(key)
            .agg(F.sum("f").cast("bigint").alias("fk"))
            .select(key, "fk",
                    (2 * F.coalesce(F.sum("fk").over(w), F.lit(0))
                     + F.col("fk") + 1).cast("bigint").alias("r2"))
        )

    xm, ym = marginal("x"), marginal("y")
    tot = cells.agg(F.sum("f").cast("bigint").alias("n"))
    dxm = (xm.crossJoin(F.broadcast(tot))
           .select("x", "fk", (F.col("r2") - (F.col("n") + 1))
                   .cast("bigint").alias("d")))
    dym = (ym.crossJoin(F.broadcast(tot))
           .select("y", "fk", (F.col("r2") - (F.col("n") + 1))
                   .cast("bigint").alias("d")))

    d14 = lambda c: F.col(c).cast("decimal(14,0)")
    sp = (
        cells.join(F.broadcast(dxm.select("x", F.col("d").alias("dx"))),
                   "x")
        .join(F.broadcast(dym.select("y", F.col("d").alias("dy"))), "y")
        .agg(F.sum(F.col("f").cast("decimal(10,0)")
                   * (d14("dx") * d14("dy")).cast("decimal(28,0)"))
             .alias("sxy"))
    )

    def sq_ties(dm):
        return dm.agg(
            F.sum(F.col("fk").cast("decimal(10,0)")
                  * (d14("d") * d14("d")).cast("decimal(28,0)"))
            .alias("sqq"),
            F.sum(F.col("fk").cast("decimal(19,0)")
                  * (F.col("fk") - 1).cast("decimal(19,0)"))
            .alias("ties"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
        )

    sxx = sq_ties(dxm).select(F.col("sqq").alias("sxx"),
                              F.col("ties").alias("tiesx"),
                              F.col("n_values").alias("n_x_values"))
    syy = sq_ties(dym).select(F.col("sqq").alias("syy"),
                              F.col("ties").alias("tiesy"),
                              F.col("n_values").alias("n_y_values"))
    a = cells.select(F.col("x").alias("ax"), F.col("y").alias("ay"),
                     F.col("f").alias("af"))
    b = cells.select(F.col("x").alias("bx"), F.col("y").alias("by"),
                     F.col("f").alias("bf"))
    prod = (F.col("af").cast("decimal(19,0)")
            * F.col("bf").cast("decimal(19,0)"))
    zero = F.lit(0).cast("decimal(19,0)")
    cd = (
        a.join(b, F.col("bx") > F.col("ax"))
        .agg(
            F.sum(F.when(F.col("by") > F.col("ay"), prod).otherwise(zero))
            .alias("c_pairs"),
            F.sum(F.when(F.col("by") < F.col("ay"), prod).otherwise(zero))
            .alias("d_pairs"),
        )
    )
    n_dec = F.col("n").cast("decimal(19,0)")
    n1_dec = (F.col("n") - 1).cast("decimal(19,0)")
    out = (
        tot.crossJoin(F.broadcast(sp)).crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(syy)).crossJoin(F.broadcast(cd))
        .select(
            "n", "n_x_values", "n_y_values",
            (F.col("sxy").cast("double")
             / (F.sqrt(F.col("sxx").cast("double"))
                * F.sqrt(F.col("syy").cast("double"))))
            .cast("double").alias("rho_spearman"),
            (F.lit(2.0) * (F.col("c_pairs") - F.col("d_pairs"))
             .cast("double")
             / F.sqrt((n_dec * n1_dec - F.col("tiesx")).cast("double")
                      * (n_dec * n1_dec - F.col("tiesy")).cast("double")))
            .cast("double").alias("tau_b"),
        )
    )
    return out


@register("stats_mannwhitney_u", oracle=f"""
WITH vf AS (
  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
         CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_b
  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1
), cum AS (
  SELECT n_a, n_b,
         CAST(SUM(n_a + n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              - (n_a + n_b) AS BIGINT) AS c_lt
  FROM vf
), agg AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n_a_tot,
         CAST(SUM(n_b) AS BIGINT) AS n_b_tot,
         CAST(SUM(n_a * (2 * c_lt + (n_a + n_b) + 1)) AS BIGINT) AS r_a_x2
  FROM cum
)
, fin AS (
  SELECT n_a_tot AS n_a, n_b_tot AS n_b,
         CAST(r_a_x2 - n_a_tot * (n_a_tot + 1) AS BIGINT) AS u_a_x2,
         CAST(2 * n_a_tot * n_b_tot AS BIGINT) AS d
  FROM agg
)
SELECT n_a, n_b, u_a_x2,
       CAST(d - u_a_x2 AS BIGINT) AS u_b_x2,
       CAST({staged_ppm("u_a_x2", "d", intdiv="//")} AS BIGINT) AS auc_ppm
FROM fin
""")
def stats_mannwhitney_u(spark, sf_dir):
    """Exact Mann-Whitney U (Wilcoxon rank-sum) comparing order value
    between finished ('F') and open ('O') orders, WITHOUT a global
    row rank: one corpus-sized grouped pass builds the per-dollar
    two-group frequency table, and the rank sum derives from its
    cumulative counts — DOUBLED average ranks (2r = 2*cum_before +
    ties + 1, integers even under ties), the stats_rank_corr trick.
    ``u_a_x2`` = 2*U_A; ``auc_ppm`` = U_A / (n_A*n_B) in ppm, which is
    exactly the ROC-AUC of price as a classifier for status — the
    quantity an ML pipeline actually wants from this test.  All
    arithmetic BIGINT-exact, with the ppm ratio staged as two x1000
    long-division steps (a naive 1e6*U multiply overflowed int64 at
    the 60M-row sf10 run; the staged form holds to ~5e7 rows per
    group).  Past ~1e9 total rows the rank-sum products outgrow int64
    too and the sums switch to the DECIMAL(38,0) shard-mergeable form
    documented in stats_rank_corr.  The only data-sized pass is the
    first groupBy; the window runs over the dollar domain."""
    orders = load_table(spark, sf_dir, "orders")
    vf = (orders.filter(F.col("o_orderstatus").isin("F", "O"))
          .groupBy(F.floor("o_totalprice").cast("bigint").alias("v"))
          .agg(F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                     .otherwise(0)).cast("bigint").alias("n_a"),
               F.sum(F.when(F.col("o_orderstatus") == "O", 1)
                     .otherwise(0)).cast("bigint").alias("n_b")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vf.select(
        "n_a", "n_b",
        (F.sum(F.col("n_a") + F.col("n_b")).over(w)
         - (F.col("n_a") + F.col("n_b"))).cast("bigint").alias("c_lt"))
    agg = cum.agg(
        F.sum("n_a").cast("bigint").alias("n_a_tot"),
        F.sum("n_b").cast("bigint").alias("n_b_tot"),
        F.sum(F.col("n_a") * (2 * F.col("c_lt")
                              + (F.col("n_a") + F.col("n_b")) + 1))
        .cast("bigint").alias("r_a_x2"))
    fin = agg.select(
        F.col("n_a_tot").alias("n_a"),
        F.col("n_b_tot").alias("n_b"),
        (F.col("r_a_x2") - F.col("n_a_tot") * (F.col("n_a_tot") + 1))
        .cast("bigint").alias("u_a_x2"),
        (2 * F.col("n_a_tot") * F.col("n_b_tot"))
        .cast("bigint").alias("d"))
    # staged_ppm: 1e6*U overflows int64 once n_a*n_b > ~4.6e12
    # (measured at the 60M-row sf10 run); the shared two-step form
    # keeps every intermediate <= 1000*d
    return fin.select(
        "n_a", "n_b", "u_a_x2",
        (F.col("d") - F.col("u_a_x2")).cast("bigint").alias("u_b_x2"),
        F.expr(staged_ppm("u_a_x2", "d")).cast("bigint").alias("auc_ppm"),
    )


def _staged_ppm_sql(num: str, den: str) -> str:
    return staged_ppm(num, den, intdiv="//")


@register("stats_cohens_kappa", oracle=f"""
WITH g AS ({_ORACLES["text_gopher_rules"]}),
c AS ({_ORACLES["text_c4_line_filter"]}),
j AS (
  SELECT g.passes_gopher AS ra, NOT c.dropped AS rb
  FROM g JOIN c ON c.doc_id = g.doc_id
), t AS (
  SELECT CAST(COUNT(*) FILTER (ra AND rb) AS BIGINT) AS a,
         CAST(COUNT(*) FILTER (ra AND NOT rb) AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (NOT ra AND rb) AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (NOT ra AND NOT rb) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM j
)
SELECT n AS n_docs, a AS both_pass, b AS gopher_only, c AS c4_only,
       d AS both_fail,
       CAST({_rdiv_sql("1000000 * (a + d)", "n")} AS BIGINT) AS po_ppm,
       CAST({_staged_ppm_sql("(a + b) * (a + c) + (c + d) * (b + d)",
                             "n * n")} AS BIGINT) AS pe_ppm,
       CAST({_staged_ppm_sql(
           "n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))",
           "n * n - ((a + b) * (a + c) + (c + d) * (b + d))")}
            AS BIGINT) AS kappa_ppm
FROM t
""")
def stats_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the repo's two document-quality raters —
    Gopher rules (text_gopher_rules) and the C4 line filter
    (text_c4_line_filter, rater = "not dropped") — the
    chance-corrected agreement a curation pipeline checks BEFORE
    treating two filters as redundant or complementary.  Both raters
    are already value-graded operators; this composes them (the
    oracle embeds their exact oracle SQL as CTEs — no re-derivation
    to drift), builds the 2×2 table in one conditional aggregate, and
    grades po/pe/kappa as EXACT staged-division ppm (kappa may be
    negative; the sign is restored around the two ×1000 steps, which
    hold to ~9e7 docs before the n² terms need the DECIMAL(38,0)
    shard-merge form)."""
    g = text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes_gopher").alias("ra"))
    c = text_c4_line_filter(spark, sf_dir).select(
        "doc_id", (~F.col("dropped")).alias("rb"))
    j = g.join(c, "doc_id")
    t = j.agg(
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    pe_num = "(a + b) * (a + c) + (c + d) * (b + d)"
    return t.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_pass"),
        F.col("b").alias("gopher_only"),
        F.col("c").alias("c4_only"),
        F.col("d").alias("both_fail"),
        F.expr(_RDIV.format(a="1000000 * (a + d)", b="n"))
        .cast("bigint").alias("po_ppm"),
        F.expr(staged_ppm(pe_num, "n * n"))
        .cast("bigint").alias("pe_ppm"),
        F.expr(staged_ppm(
            f"n * (a + d) - ({pe_num})",
            f"n * n - ({pe_num})"))
        .cast("bigint").alias("kappa_ppm"),
    )


_B = 32  # resamples / permutations


# cumulative Poisson(1) thresholds in 2^20 units: P(K <= k) * 2^20
# for k = 0..5 (K >= 6 lumped into the tail) — baked-in integer
# constants so both engines draw the identical multiplicities
_POIS_CUM = (385749, 771499, 964373, 1028665, 1044738, 1047952)


def _h20_spark(b, id_):
    return (F.conv(F.substring(
        F.md5(F.concat(b.cast("string"), F.lit("_"),
                       id_.cast("string"))), 1, 15), 16, 10)
        .cast("bigint") % 1048576)


def _h20_sql(b: str, id_: str) -> str:
    return (f"(('0x' || substr(md5(CAST({b} AS VARCHAR) || '_' || "
            f"CAST({id_} AS VARCHAR)), 1, 15))::BIGINT % 1048576)")


def _pois_w_sql(h: str) -> str:
    """Poisson(1) multiplicity from a uniform 20-bit hash value."""
    cases = " ".join(
        f"WHEN ({h}) < {t} THEN {k}" for k, t in enumerate(_POIS_CUM))
    return f"(CASE {cases} ELSE 6 END)"


@register("stats_bootstrap_ci", oracle=f"""
WITH e AS (
  SELECT event_id, event_type, {_VAL_CENTS} AS cents FROM events
), rs AS (
  SELECT e.event_type, b.b,
         {_pois_w_sql(_h20_sql("b.b", "e.event_id"))} AS w,
         e.cents
  FROM e, (SELECT unnest(generate_series(0, {_B - 1})) AS b) b
), means AS (
  SELECT event_type, b,
         CAST({_rdiv_sql("SUM(w * cents)", "SUM(w)")} AS BIGINT)
           AS mean_cents
  FROM rs GROUP BY 1, 2 HAVING SUM(w) > 0
), ranked AS (
  SELECT event_type, mean_cents,
         row_number() OVER (PARTITION BY event_type
           ORDER BY mean_cents, b) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM means
), obs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST({_rdiv_sql("SUM(cents)", "COUNT(*)")} AS BIGINT)
           AS mean_cents_obs
  FROM e GROUP BY 1
)
SELECT o.event_type, o.n_rows, o.mean_cents_obs,
       CAST(MIN(CASE WHEN rk = 2 THEN mean_cents END) AS BIGINT)
         AS boot_lo_cents,
       CAST(MIN(CASE WHEN rk = nb - 1 THEN mean_cents END) AS BIGINT)
         AS boot_hi_cents
FROM obs o JOIN ranked r ON r.event_type = o.event_type
GROUP BY 1, 2, 3
""")
def stats_bootstrap_ci(spark, sf_dir):
    """Per-group mean with a POISSON BOOTSTRAP confidence band — the
    resampling scheme that actually works distributed (Chamandy et
    al.): instead of drawing n rows with replacement (which needs a
    global draw), every row independently enters resample b with
    Poisson(1) multiplicity — here DERIVED from md5(b, event_id)
    against baked-in cumulative thresholds, so the {B} resamples are
    a pure function of the data and both engines (and any
    partitioning, any retry) draw the SAME ones: the CI itself is
    value-graded, which no RNG bootstrap can offer.  One fanout-by-{B}
    pass feeding a map-side-combinable (group, b) aggregate; the
    band is the 2nd / {B}-1th order statistic of the resample means
    (~94% coverage at B={B}).  Values in exact integer cents, means
    by rounded integer division."""
    ev = load_events(spark, sf_dir).select(
        "event_id", "event_type", F.expr(_VAL_CENTS).alias("cents"))
    h = _h20_spark(F.col("b"), F.col("event_id"))
    w = F.when(h < _POIS_CUM[0], 0)
    for k, t in enumerate(_POIS_CUM[1:], start=1):
        w = w.when(h < t, k)
    w = w.otherwise(6)
    rs = ev.select(
        "event_type", "cents", "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    ).select("event_type", "b", "cents", w.alias("w"))
    means = (rs.groupBy("event_type", "b")
             .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"),
                  F.sum("w").alias("sw"))
             .filter(F.col("sw") > 0)
             .select("event_type", "b",
                     F.expr(_RDIV.format(a="swc", b="sw"))
                     .cast("bigint").alias("mean_cents")))
    wnd = Window.partitionBy("event_type").orderBy("mean_cents", "b")
    cnt = Window.partitionBy("event_type")
    ranked = means.select(
        "event_type", "mean_cents",
        F.row_number().over(wnd).alias("rk"),
        F.count(F.lit(1)).over(cnt).alias("nb"))
    obs = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(_RDIV.format(a="SUM(cents)", b="COUNT(*)"))
        .cast("bigint").alias("mean_cents_obs"))
    return (obs.join(ranked, "event_type")
            .groupBy("event_type", "n_rows", "mean_cents_obs")
            .agg(F.min(F.when(F.col("rk") == 2, F.col("mean_cents")))
                 .cast("bigint").alias("boot_lo_cents"),
                 F.min(F.when(F.col("rk") == F.col("nb") - 1,
                              F.col("mean_cents")))
                 .cast("bigint").alias("boot_hi_cents")))


stats_bootstrap_ci.__doc__ = stats_bootstrap_ci.__doc__.format(B=_B)


@register("stats_randomization_test", oracle=f"""
WITH e AS (
  SELECT event_id, event_type, {_VAL_CENTS} AS cents FROM events
  WHERE event_type IN ('purchase', 'view')
), obs AS (
  SELECT CAST({_rdiv_sql(
      "SUM(CASE WHEN event_type = 'purchase' THEN cents END)",
      "COUNT(*) FILTER (event_type = 'purchase')")} AS BIGINT)
       - CAST({_rdiv_sql(
      "SUM(CASE WHEN event_type = 'view' THEN cents END)",
      "COUNT(*) FILTER (event_type = 'view')")} AS BIGINT) AS d_obs
  FROM e
), perms AS (
  SELECT b.b,
         CAST({_rdiv_sql(
      "SUM(CASE WHEN " + _h20_sql("b.b", "e.event_id")
      + " % 2 = 0 THEN cents END)",
      "COUNT(*) FILTER (" + _h20_sql("b.b", "e.event_id")
      + " % 2 = 0)")} AS BIGINT)
       - CAST({_rdiv_sql(
      "SUM(CASE WHEN " + _h20_sql("b.b", "e.event_id")
      + " % 2 = 1 THEN cents END)",
      "COUNT(*) FILTER (" + _h20_sql("b.b", "e.event_id")
      + " % 2 = 1)")} AS BIGINT) AS d_b
  FROM e, (SELECT unnest(generate_series(0, {_B - 1})) AS b) b
  GROUP BY 1
)
SELECT (SELECT d_obs FROM obs) AS obs_diff_cents,
       CAST(COUNT(*) FILTER (abs(d_b) >= abs((SELECT d_obs FROM obs)))
            AS BIGINT) AS n_extreme,
       CAST({_B} AS BIGINT) AS n_perms,
       CAST({_rdiv_sql(
           "1000000 * COUNT(*) FILTER (abs(d_b) >= "
           "abs((SELECT d_obs FROM obs)))", str(_B))} AS BIGINT)
         AS p_ppm
FROM perms
""")
def stats_randomization_test(spark, sf_dir):
    """Does purchase value differ from view value?  A RANDOMIZATION
    test with deterministic md5 relabelings: each of the {B} rounds
    reassigns every row to a pseudo-group by hash parity and
    recomputes the mean difference; the p-value is the fraction of
    relabeled differences at least as extreme as the observed one.
    Like the bootstrap twin, determinism turns a Monte-Carlo
    procedure into a value-graded query — same resamples on any
    engine, any partitioning, any retry.  One fanout-by-{B} grouped
    aggregate over the two-group slice; integer cents throughout."""
    ev = (load_events(spark, sf_dir)
          .filter(F.col("event_type").isin("purchase", "view"))
          .select("event_id", "event_type",
                  F.expr(_VAL_CENTS).alias("cents")))
    is_p = F.col("event_type") == "purchase"
    obs = ev.agg(
        (F.expr(_RDIV.format(
            a="SUM(CASE WHEN event_type = 'purchase' THEN cents END)",
            b="COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)"))
         - F.expr(_RDIV.format(
             a="SUM(CASE WHEN event_type = 'view' THEN cents END)",
             b="COUNT(CASE WHEN event_type = 'view' THEN 1 END)")))
        .cast("bigint").alias("d_obs"))
    rs = ev.select(
        "cents", "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"))
    par = (_h20_spark(F.col("b"), F.col("event_id")) % 2 == 0)
    perms = (rs.groupBy("b")
             .agg(F.sum(F.when(par, F.col("cents"))).alias("s0"),
                  F.count(F.when(par, F.lit(1))).alias("n0"),
                  F.sum(F.when(~par, F.col("cents"))).alias("s1"),
                  F.count(F.when(~par, F.lit(1))).alias("n1"))
             .select("b",
                     (F.expr(_RDIV.format(a="s0", b="n0"))
                      - F.expr(_RDIV.format(a="s1", b="n1")))
                     .cast("bigint").alias("d_b")))
    return (perms.crossJoin(F.broadcast(obs))
            .agg(F.min("d_obs").cast("bigint").alias("obs_diff_cents"),
                 F.sum(F.when(F.abs("d_b") >= F.abs("d_obs"), 1)
                       .otherwise(0)).cast("bigint").alias("n_extreme"),
                 F.lit(_B).cast("bigint").alias("n_perms"))
            .select("obs_diff_cents", "n_extreme", "n_perms",
                    F.expr(_RDIV.format(a="1000000 * n_extreme",
                                        b=str(_B)))
                    .cast("bigint").alias("p_ppm")))


stats_randomization_test.__doc__ = stats_randomization_test.__doc__.format(
    B=_B)


@register("approx_distinct_parts", oracle=f"""
WITH hll AS ({hll_registers_sql("lineitem", "l_returnflag", "l_partkey")}),
exact AS (
  SELECT l_returnflag AS grp,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
  FROM lineitem GROUP BY 1
)
SELECT hll.grp AS l_returnflag, n_buckets_hit, s2,
       est_raw AS approx_parts, n_exact
FROM hll JOIN exact ON exact.grp = hll.grp
""")
def approx_distinct_parts(spark, sf_dir):
    """Approximate distinct parts per return flag via the PORTABLE
    HyperLogLog (operators/sketch.py hll_registers: md5-derived 60-bit
    hashes, 64 registers, exact-integer harmonic sum) — upgraded from
    the rows-only ``approx_count_distinct`` internals in round 13 so
    the ESTIMATE itself is value-graded; the exact distinct count
    rides along as the audit column.  Same scale story as the native
    HLL++: one (group, bucket) MAX aggregate, map-side combined,
    constant 64-register state per group."""
    l = load_table(spark, sf_dir, "lineitem")
    hll = hll_registers(l, "l_returnflag", "l_partkey")
    exact = l.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_exact"))
    return (hll.join(exact, "grp")
            .select(F.col("grp").alias("l_returnflag"), "n_buckets_hit",
                    "s2", F.col("est_raw").alias("approx_parts"),
                    "n_exact"))


@register("approx_distinct_mergeable", oracle=f"""
WITH hashed AS (
  SELECT l_returnflag AS flag, date_trunc('month', l_shipdate) AS month,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem
), ranked AS (
  SELECT flag, month, h % 64 AS j,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS r
  FROM hashed
), monthly_regs AS (
  SELECT flag, month, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2, 3
), merged AS (
  SELECT flag, j, MAX(m_j) AS m_j FROM monthly_regs GROUP BY 1, 2
), global_regs AS (
  SELECT flag, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2
), months AS (
  SELECT flag, CAST(COUNT(DISTINCT month) AS BIGINT) AS n_months
  FROM monthly_regs GROUP BY 1
), roll AS (
  SELECT m.flag,
         CAST(SUM(CAST(2 ** (55 - m.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_merged
  FROM merged m GROUP BY 1
), roll_g AS (
  SELECT g.flag,
         CAST(SUM(CAST(2 ** (55 - g.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_global
  FROM global_regs g GROUP BY 1
)
SELECT roll.flag AS l_returnflag, n_months, s2_merged,
       CAST({_HLL_NUM} / CAST(s2_merged AS DOUBLE) AS DOUBLE)
         AS approx_parts,
       s2_merged = s2_global AS merged_equal
FROM roll
JOIN roll_g ON roll_g.flag = roll.flag
JOIN months ON months.flag = roll.flag
""")
def approx_distinct_mergeable(spark, sf_dir):
    """Mergeable-sketch rollup, PORTABLE edition (round 13 — was
    Datasketches ``hll_sketch_agg``/``hll_union_agg``, rows-only):
    a 64-register portable-HLL table is built per (returnflag,
    ship-month) cell, the monthly register tables are merged per flag
    by per-bucket MAX, and the merged sketch is estimated — a
    distinct-count rollup WITHOUT rescanning raw data (the same
    partial-reaggregation contract as events_rollup_daily, for a
    non-additive measure).  ``merged_equal`` grades the merge algebra:
    the MAX-merged monthly sketches must equal the single global pass
    bit-for-bit, the property that makes the rollup valid at 100 TB
    where the monthly sketches are persisted and coarser rollups are
    register merges, not scans."""
    l = load_table(spark, sf_dir, "lineitem")
    src = l.select(
        F.struct(
            F.col("l_returnflag").alias("flag"),
            F.date_trunc("month", "l_shipdate").alias("month"),
        ).alias("gm"),
        "l_partkey",
    )
    # monthly register table is sketch-state-sized (flags x months x
    # <=64 rows) and feeds two consumers — materialize once
    monthly = hll_register_table(src, "gm", "l_partkey") \
        .localCheckpoint(eager=True)
    merged_regs = (monthly
                   .select(F.col("grp.flag").alias("grp"), "j", "m_j")
                   .groupBy("grp", "j")
                   .agg(F.max("m_j").cast("bigint").alias("m_j")))
    months = (monthly.select(F.col("grp.flag").alias("grp"),
                             F.col("grp.month").alias("month"))
              .distinct().groupBy("grp")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_months")))
    merged = hll_rollup(merged_regs).select(
        "grp", F.col("s2").alias("s2_merged"),
        F.col("est_raw").alias("approx_parts"))
    glob = hll_rollup(hll_register_table(l, "l_returnflag", "l_partkey")
                      ).select("grp", F.col("s2").alias("s2_global"))
    return (merged.join(glob, "grp").join(months, "grp")
            .select(F.col("grp").alias("l_returnflag"), "n_months",
                    "s2_merged", "approx_parts",
                    (F.col("s2_merged") == F.col("s2_global"))
                    .alias("merged_equal")))


@register("approx_percentiles", oracle="""
WITH cents AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS c
  FROM lineitem
), bins AS (
  SELECT l_returnflag, CAST(length(bin(c)) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM bins
), tot AS (
  SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
  FROM bins GROUP BY 1
), spec AS (
  SELECT l_returnflag, q_pct, n,
         CAST((q_pct * n + 99) // 100 AS BIGINT) AS target_rank
  FROM tot, (SELECT unnest([25, 50, 75, 95]::BIGINT[]) AS q_pct)
), hit AS (
  SELECT s.l_returnflag, s.q_pct, s.n, s.target_rank,
         CAST(MIN(c.bin) AS BIGINT) AS bin
  FROM spec s JOIN cum c ON c.l_returnflag = s.l_returnflag
                        AND c.cum >= s.target_rank
  GROUP BY 1, 2, 3, 4
)
SELECT l_returnflag, q_pct, n, target_rank, bin,
       CAST(1::BIGINT << CAST(bin - 1 AS INT) AS BIGINT) AS bin_lo,
       CAST(CASE WHEN bin >= 63 THEN 9223372036854775807
                 ELSE (1::BIGINT << CAST(bin AS INT)) - 1 END
         AS BIGINT) AS bin_hi
FROM hit
""")
def approx_percentiles(spark, sf_dir):
    """Approximate P25/P50/P75/P95 of extended price per return flag
    from the mergeable log-bin sketch (round 13 — was
    ``percentile_approx``, whose GK internals are engine-specific and
    rows-only): <= 64 rows of SUM-mergeable state per flag, each
    quantile bracketed within one power of two.  The 100 TB quantile
    path: one partial-agg shuffle with constant-size state where
    exact percentiles (percentiles_exact, the exact twin) need a full
    value-domain sort.  Prices are binned in exact DECIMAL-derived
    integer cents so both engines bin identically."""
    l = load_table(spark, sf_dir, "lineitem")
    cents = l.select(
        F.col("l_returnflag"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("c"),
    )
    bins = logbin_table(cents, "c", shard=F.col("l_returnflag"))
    q = logbin_quantiles_grouped(bins, [25, 50, 75, 95])
    return q.withColumnRenamed("shard_id", "l_returnflag")


@register("approx_distinct_kmv", oracle="""
WITH h AS (
  SELECT DISTINCT l_returnflag,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), r AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM h
), t AS (
  SELECT l_returnflag, max(h) AS kth,
         CAST(count(*) AS BIGINT) AS n_min_values
  FROM r WHERE rn <= 256 GROUP BY 1
)
SELECT l_returnflag, n_min_values,
       round(CASE WHEN n_min_values < 256
                  THEN CAST(n_min_values AS DOUBLE)
                  ELSE (255.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE)
             END, 2) AS approx_distinct
FROM t
""")
def approx_distinct_kmv(spark, sf_dir):
    """K-Minimum-Values distinct estimator (k=256, ~6% rel. error) —
    the PORTABLE twin of the HLL queries: md5-derived 60-bit hashes
    and exact tie-breaks make the ESTIMATE itself reproducible in SQL,
    so an approximate operator carries a full value oracle (the native
    HLL path stays the production default; accuracy of both is bounded
    in tests)."""
    from ..operators.sketch import kmv_distinct

    l = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(l, "l_returnflag", "l_partkey", k=256)


@register("approx_percentiles_sampled", oracle="""
WITH s AS (
  SELECT event_type, round(value, 6) AS v6
  FROM events
  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        < 144115188075855872
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
       round(quantile_cont(v6, 0.5), 6) AS p50,
       round(quantile_cont(v6, 0.9), 6) AS p90,
       round(quantile_cont(v6, 0.99), 6) AS p99
FROM s GROUP BY 1
""")
def approx_percentiles_sampled(spark, sf_dir):
    """Approximate percentiles from a deterministic 1/8 hash-Bernoulli
    sample — the portable twin of ``percentile_approx``: both engines
    draw the identical sample (hash of the row id), so the estimates
    value-match exactly while the exact sort only ever sees 1/8 of the
    scan."""
    from ..operators.sketch import sampled_percentiles
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return sampled_percentiles(
        ev, "event_type", "value", "event_id", percentiles=(0.5, 0.9, 0.99),
    )


@register("approx_distinct_hll_portable", oracle=f"""
WITH hll AS ({hll_registers_sql("events", "event_type", "user_id")}),
exact AS (
  SELECT event_type AS grp,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT hll.grp AS event_type, n_buckets_hit, n_zero_registers, s2,
       est_raw, n_exact
FROM hll JOIN exact ON exact.grp = hll.grp
""")
def approx_distinct_hll_portable(spark, sf_dir):
    """Distinct users per event type via PORTABLE HyperLogLog
    (operators/sketch.py hll_registers): md5-derived 60-bit hashes,
    64 registers, and an EXACT-integer harmonic sum (S2 = sum of
    2^(55-M_j), a BIGINT) so the raw estimate itself — not just a row
    count — is value-oracled; the native `approx_count_distinct`
    stays the production path (approx_distinct_parts) but is
    engine-internal and rows-only by necessity.  One (group, bucket)
    MAX aggregate, map-side combined; the exact distinct count rides
    along as the audit column."""
    ev = load_events(spark, sf_dir)
    hll = hll_registers(ev, "event_type", "user_id")
    exact = (ev.groupBy(F.col("event_type").alias("grp"))
             .agg(F.countDistinct("user_id").cast("bigint")
                  .alias("n_exact")))
    return (hll.join(exact, "grp")
            .select(F.col("grp").alias("event_type"), "n_buckets_hit",
                    "n_zero_registers", "s2", "est_raw", "n_exact"))


@register("approx_distinct_hll_merge", oracle=f"""
WITH hashed AS (
  SELECT event_type AS grp, user_id % 2 AS shard,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events
), ranked AS (
  SELECT grp, shard, h % 64 AS j,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS r
  FROM hashed
), shard_regs AS (
  SELECT grp, shard, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2, 3
), merged AS (
  SELECT grp, j, MAX(m_j) AS m_j FROM shard_regs GROUP BY 1, 2
), global_regs AS (
  SELECT grp, j, MAX(r) AS m_j FROM ranked GROUP BY 1, 2
), roll AS (
  SELECT m.grp,
         CAST(SUM(CAST(2 ** (55 - m.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_merged
  FROM merged m GROUP BY 1
), roll_g AS (
  SELECT g.grp,
         CAST(SUM(CAST(2 ** (55 - g.m_j) AS BIGINT))
              + (64 - COUNT(*)) * {1 << 55} AS BIGINT) AS s2_global
  FROM global_regs g GROUP BY 1
)
SELECT roll.grp AS event_type, s2_merged, s2_global,
       s2_merged = s2_global AS merged_equal
FROM roll JOIN roll_g ON roll_g.grp = roll.grp
""")
def approx_distinct_hll_merge(spark, sf_dir):
    """The property that makes HLL THE 100 TB distinct sketch, proved
    in-query: register tables computed independently over two
    disjoint shards (user_id parity) and merged by per-bucket MAX
    yield the IDENTICAL harmonic sum as the single global pass —
    ``merged_equal`` is graded true for every group.  At cluster
    scale this is the map-side combine / executor-merge path;
    correctness of the merge is what lets the sketch cross shuffle
    and even engine boundaries."""
    ev = load_events(spark, sf_dir)
    shard0 = ev.filter(F.col("user_id") % 2 == 0)
    shard1 = ev.filter(F.col("user_id") % 2 == 1)
    r0 = hll_register_table(shard0, "event_type", "user_id")
    r1 = hll_register_table(shard1, "event_type", "user_id")
    merged_regs = (
        r0.select("grp", "j", F.col("m_j").alias("m0"))
        .join(r1.select("grp", "j", F.col("m_j").alias("m1")),
              ["grp", "j"], "full_outer")
        .select("grp", "j",
                F.greatest(F.coalesce("m0", F.lit(0)),
                           F.coalesce("m1", F.lit(0))).alias("m_j"))
    )

    def roll(regs, name):
        zero_term = F.lit(1 << 55).cast("bigint")
        return regs.groupBy("grp").agg(
            (F.sum(F.pow(F.lit(2).cast("bigint"),
                         55 - F.col("m_j")).cast("bigint"))
             + (F.lit(64) - F.count(F.lit(1))) * zero_term)
            .cast("bigint").alias(name))

    merged = roll(merged_regs, "s2_merged")
    glob = roll(hll_register_table(ev, "event_type", "user_id"),
                "s2_global")
    return (merged.join(glob, "grp")
            .select(F.col("grp").alias("event_type"), "s2_merged",
                    "s2_global",
                    (F.col("s2_merged") == F.col("s2_global"))
                    .alias("merged_equal")))


_CMS_TOPK = 20


_CMS_WORDS_SQL = cms_counters_sql(
    "(SELECT unnest(string_split(text, ' ')) AS term FROM documents)",
    "term",
)


@register("approx_topk_cms", oracle=f"""
WITH counters AS ({_CMS_WORDS_SQL}),
exact AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY 1
), tops AS (
  SELECT term, n_exact,
         row_number() OVER (ORDER BY n_exact DESC, term) AS rk
  FROM exact QUALIFY rk <= {_CMS_TOPK}
), cells AS (
  SELECT term, n_exact, rk, i.i AS i,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|' || term), 1, 15))
           ::BIGINT % {CMS_WIDTH} AS col
  FROM tops, (SELECT unnest([{", ".join(str(i) for i in range(CMS_DEPTH))}])
              AS i) i
)
SELECT cells.term, CAST(rk AS BIGINT) AS rk, n_exact,
       CAST(MIN(cnt) AS BIGINT) AS cms_est,
       MIN(cnt) >= n_exact AS over_ok
FROM cells JOIN counters USING (i, col)
GROUP BY 1, 2, 3
""")
def approx_topk_cms(spark, sf_dir):
    """Heavy-hitter counts via a PORTABLE Count-Min Sketch
    (operators/sketch.py): d={d} md5-salted hash rows x w={w} counters
    — {dw} BIGINT cells total, REGARDLESS of vocabulary size, built by
    one map-side-combined grouped count over the token stream.  The
    true top-{k} tokens (by exact count, token tiebreak) are then
    point-queried against the sketch: the estimate is the per-row MIN
    and is GRADED — including ``over_ok``, the Count-Min one-sided
    guarantee (estimate >= truth, always).  This is the 100 TB
    frequent-items shape: the corpus pass shuffles {dw} cells, not a
    vocabulary; the exact side here is the audit, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term"))
    counters = cms_counter_table(toks, "term")
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    w = Window.orderBy(F.col("n_exact").desc(), "term")
    tops = (exact.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= _CMS_TOPK))
    est = cms_estimate(tops.select("term"), counters, "term")
    return (tops.join(est, "term")
            .select("term", "rk", "n_exact", "cms_est",
                    (F.col("cms_est") >= F.col("n_exact"))
                    .alias("over_ok")))


approx_topk_cms.__doc__ = approx_topk_cms.__doc__.format(
    d=CMS_DEPTH, w=CMS_WIDTH, dw=CMS_DEPTH * CMS_WIDTH, k=_CMS_TOPK)


#: o_totalprice in exact integer cents on BOTH engines (DECIMAL cast
#: first — binning raw doubles would let a ulp flip a bin boundary)
_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register("approx_quantile_logbins", oracle=f"""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         o_orderkey
  FROM orders
), bins AS (
  SELECT CAST(length(bin(c)) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1
), shard AS (
  SELECT o_orderkey % 4 AS sh, CAST(length(bin(c)) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
), merged AS (
  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM shard GROUP BY 1
), mism AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatch
  FROM bins b FULL OUTER JOIN merged m USING (bin)
  WHERE COALESCE(b.cnt, -1) != COALESCE(m.cnt, -1)
), cum AS (
  SELECT bin, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM merged
), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM merged),
spec AS (
  SELECT q_pct, n, CAST((q_pct * n + 99) // 100 AS BIGINT)
           AS target_rank
  FROM (SELECT unnest([50, 90, 99]::BIGINT[]) AS q_pct), tot
), hit AS (
  SELECT s.q_pct, s.n, s.target_rank,
         CAST(MIN(c.bin) AS BIGINT) AS bin
  FROM spec s JOIN cum c ON c.cum >= s.target_rank
  GROUP BY 1, 2, 3
)
SELECT h.q_pct, h.n, h.target_rank, h.bin,
       CAST(1::BIGINT << CAST(h.bin - 1 AS INT) AS BIGINT) AS bin_lo,
       -- bin = 63 (values >= 2^62): 1<<63 overflows BIGINT on both
       -- engines; the top bin's true upper bound is BIGINT max
       CAST(CASE WHEN h.bin >= 63 THEN 9223372036854775807
                 ELSE (1::BIGINT << CAST(h.bin AS INT)) - 1 END
         AS BIGINT) AS bin_hi,
       (SELECT n_mismatch FROM mism) = 0 AS shards_match
FROM hit h
""")
def approx_quantile_logbins(spark, sf_dir):
    """P50/P90/P99 of order totals from a 64-row mergeable log-bin
    sketch (operators/sketch.py logbin_table / logbin_quantiles),
    built BY merging four orderkey-shards and proved equal to the
    single-pass table (shards_match) — the SUM-merge algebra audit the
    HLL (MAX) and CMS (SUM) sketches already carry.  Each quantile is
    bracketed within one power of two at ~512 bytes of state: the
    monitoring-rollup accuracy/state trade at 100 TB, where the exact
    path (profile_equidepth_price) costs a value-domain shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(F.expr(_CENTS).alias("c"),
                          (F.col("o_orderkey") % 4).alias("sh"))
    # TWO passes over orders total (global + one sharded build via
    # the shard= hook — filtering per shard re-scanned orders 4x),
    # and both bin tables are <= 64 (x4) rows: materialize them so
    # the quantile read-out's multiple consumers (cumulative window,
    # total, mismatch join) never re-derive from the base table —
    # the first cut's final plan scanned orders 13x
    global_bins = logbin_table(cents, "c").localCheckpoint(eager=True)
    merged = (logbin_table(cents, "c", shard=F.col("sh"))
              .groupBy("bin")
              .agg(F.sum("cnt").cast("bigint").alias("cnt"))
              .localCheckpoint(eager=True))
    mism = (global_bins.withColumnRenamed("cnt", "g")
            .join(merged.withColumnRenamed("cnt", "m"), "bin",
                  "full_outer")
            .filter(F.coalesce("g", F.lit(-1))
                    != F.coalesce("m", F.lit(-1)))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_mismatch")))
    q = logbin_quantiles(merged, [50, 90, 99])
    return (q.crossJoin(F.broadcast(mism))
            .select("q_pct", "n", "target_rank", "bin", "bin_lo",
                    "bin_hi", (F.col("n_mismatch") == 0)
                    .alias("shards_match")))


@register("profile_orders", oracle="""
SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""")
def profile_orders(spark, sf_dir):
    """Single-pass per-column profile (nulls/distinct/min/max), string
    and integer columns (float min/max string formats differ across
    engines, so doubles are profiled but not oracle-compared)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return P.profile_table(o)


@register("profile_key_skew", oracle="""
WITH c AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS rows
  FROM orders GROUP BY 1
), s AS (
  SELECT SUM(rows) AS total, COUNT(*) AS nkeys FROM c
)
SELECT o_custkey, rows,
       CAST(rows AS DOUBLE) / s.total AS row_share,
       CAST(rows AS DOUBLE) * s.nkeys / s.total AS skew_ratio
FROM c, s
ORDER BY rows DESC, o_custkey ASC
LIMIT 10
""")
def profile_key_skew(spark, sf_dir):
    """Join-key skew report over orders.o_custkey: the 10 heaviest
    customers with row share and ratio-to-mean-key-weight — the
    diagnostic that decides whether a join needs salting
    (operators/profiling.py key_skew_report)."""
    return P.key_skew_report(load_table(spark, sf_dir, "orders"), ["o_custkey"])


@register("profile_fk_integrity", oracle="""
SELECT u.*, orphan_rows = 0 AND null_keys = 0 AS intact FROM (
SELECT 'lineitem.orderkey->orders' AS relationship,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IS NULL) AS null_keys
UNION ALL
SELECT 'orders.custkey->customer',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
UNION ALL
SELECT 'customer.nationkey->nation',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE c.c_nationkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_nationkey IS NULL)
) u
""")
def profile_fk_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema's three FK
    edges: orphaned child keys (anti join on key-only projections) and
    NULL keys per relationship — the load-validation gate before any
    join-based pipeline trusts the data."""
    out = P.fk_integrity_audit([
        ("lineitem.orderkey->orders",
         load_table(spark, sf_dir, "lineitem"), "l_orderkey",
         load_table(spark, sf_dir, "orders"), "o_orderkey"),
        ("orders.custkey->customer",
         load_table(spark, sf_dir, "orders"), "o_custkey",
         load_table(spark, sf_dir, "customer"), "c_custkey"),
        ("customer.nationkey->nation",
         load_table(spark, sf_dir, "customer"), "c_nationkey",
         load_table(spark, sf_dir, "nation"), "n_nationkey"),
    ])
    return out


@register("profile_snapshot_drift", oracle="""
WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT * FROM documents WHERE doc_id % 3 != 1),
pa AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS len_sum,
         CAST(MIN(n_chars) AS BIGINT) AS len_min,
         CAST(MAX(n_chars) AS BIGINT) AS len_max,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
  FROM a
), pb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS len_sum,
         CAST(MIN(n_chars) AS BIGINT) AS len_min,
         CAST(MAX(n_chars) AS BIGINT) AS len_max,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
  FROM b
), la AS (
  SELECT u.* FROM pa, LATERAL (VALUES
    ('n_rows', pa.n_rows), ('len_sum', pa.len_sum),
    ('len_min', pa.len_min), ('len_max', pa.len_max),
    ('n_source', pa.n_source), ('n_lang', pa.n_lang))
    AS u(metric, snap_a)
), lb AS (
  SELECT u.* FROM pb, LATERAL (VALUES
    ('n_rows', pb.n_rows), ('len_sum', pb.len_sum),
    ('len_min', pb.len_min), ('len_max', pb.len_max),
    ('n_source', pb.n_source), ('n_lang', pb.n_lang))
    AS u(metric, snap_b)
)
SELECT la.metric, snap_a, snap_b, snap_b - snap_a AS delta
FROM la JOIN lb ON la.metric = lb.metric
ORDER BY la.metric
""")
def profile_snapshot_drift(spark, sf_dir):
    """Column-profile drift between two corpus snapshots (even doc_ids
    vs non-(3k+1) doc_ids — overlapping, different sizes): row count,
    length sum/min/max, and categorical cardinalities reported long so
    a monitor alerts on any metric (operators/profiling.py
    snapshot_drift).  Each side is ONE exact 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 != 1)
    return P.snapshot_drift(a, b, "n_chars", ["source", "lang"])


@register("profile_bucket_checksums", oracle="""
SELECT CAST(o_orderkey // 1024 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(('0x' || substr(md5(concat_ws('|',
              o_orderkey::VARCHAR, o_custkey::VARCHAR,
              o_orderstatus, o_orderpriority)), 1, 10))::BIGINT)
            AS BIGINT) AS checksum
FROM orders
GROUP BY 1
""")
def profile_bucket_checksums(spark, sf_dir):
    """Merkle-style anti-entropy digests over orders
    (operators/profiling.py bucket_checksums): per 1024-key bucket, an
    order-independent 40-bit-per-row MD5 sum — what two replicas
    exchange to locate diverging ranges without shipping rows (the
    repair primitive of the reference's native store, re-expressed
    relationally; cassandra_joinlib relies on the server's own
    anti-entropy).  Map-only digest + bucket-keyed aggregate."""
    return bucket_checksums(
        load_table(spark, sf_dir, "orders"), "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        bucket_size=1024)


_BENFORD_SQL_LIST = "[" + ", ".join(repr(p) for p in BENFORD_P) + "]"


_OMICRO = ("CAST(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)) "
           "* 1000000 AS BIGINT)")


@register("profile_benford_prices", oracle=f"""
WITH vals AS (
  SELECT {_OMICRO} AS v FROM orders
), digits AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM vals WHERE v > 0 GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM digits
)
SELECT digit, n_obs, n_total,
       CAST(n_total AS DOUBLE) * ({_BENFORD_SQL_LIST}[digit]) AS expected,
       CAST(n_obs AS DOUBLE)
         - CAST(n_total AS DOUBLE) * ({_BENFORD_SQL_LIST}[digit]) AS excess
FROM digits CROSS JOIN tot
""")
def profile_benford_prices(spark, sf_dir):
    """Benford first-digit audit of order totals
    (operators/profiling.py benford_audit): leading digit read off
    the micro-unit integer's decimal string (no log10 — identical
    formatting in both engines); expected counts from the shared
    literal probabilities.  The fabricated-data screen, one 9-group
    aggregate at any scale."""
    v = load_table(spark, sf_dir, "orders").select(F.expr(_OMICRO).alias("v"))
    return benford_audit(v, "v")


@register("profile_fd_violations", oracle="""
SELECT 'documents.source->lang' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(MAX(n_dep) AS BIGINT) AS max_distinct,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS violation_rate
FROM (SELECT source, COUNT(DISTINCT lang) AS n_dep
      FROM documents GROUP BY 1)
UNION ALL
SELECT 'documents.lang->source',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(n_dep) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM (SELECT lang, COUNT(DISTINCT source) AS n_dep
      FROM documents GROUP BY 1)
UNION ALL
SELECT 'orders.custkey->priority',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(n_dep) AS BIGINT),
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_dep
      FROM orders GROUP BY 1)
""")
def profile_fd_violations(spark, sf_dir):
    """Functional-dependency discovery audit (operators/profiling.py
    fd_audit, Metanome-style): does source determine lang (and the
    converse), does customer determine order priority — group counts,
    violating groups, worst distinct count, violation rate.  Three
    two-level aggregates unioned; each is one map-side-combinable
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    return (
        fd_audit(docs, "source", "lang", "documents.source->lang")
        .unionByName(fd_audit(docs, "lang", "source",
                              "documents.lang->source"))
        .unionByName(fd_audit(orders, "o_custkey", "o_orderpriority",
                              "orders.custkey->priority"))
    )


@register("profile_order_reconciliation", oracle=f"""
WITH lo AS (
  SELECT l_orderkey AS ok,
         CAST(SUM({_EPRICE_CENTS}) AS BIGINT) AS l_cents
  FROM lineitem GROUP BY 1
), d AS (
  SELECT {_TP_CENTS} - COALESCE(l_cents, 0) AS diff
  FROM orders LEFT JOIN lo ON lo.ok = o_orderkey
)
SELECT CASE WHEN diff = 0 THEN 0
            ELSE CAST(sign(diff) AS BIGINT)
                 * length(CAST(abs(diff) AS VARCHAR)) END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(diff) AS BIGINT) AS min_diff,
       CAST(MAX(diff) AS BIGINT) AS max_diff
FROM d GROUP BY 1
""")
def profile_order_reconciliation(spark, sf_dir):
    """Cross-table money reconciliation: o_totalprice vs the order's
    summed lineitem extended prices, cent-exact, reported as a signed
    digit-count bucket histogram of the mismatch (bucket 0 = exact
    match, +4 = overcharge of 1000-9999 cents, ...).  The audit a
    pipeline runs before trusting either column as ground truth.
    Shape: one lineitem aggregate + a key join + a bounded histogram
    — no windows, map-side combinable throughout."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lo = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(F.expr(_EPRICE_CENTS)).cast("bigint").alias("l_cents"))
    d = (
        o.join(lo, o.o_orderkey == lo.ok, "left")
        .select((F.expr(_TP_CENTS)
                 - F.coalesce(F.col("l_cents"), F.lit(0)))
                .alias("diff"))
    )
    bucket = F.when(F.col("diff") == 0, F.lit(0)).otherwise(
        F.signum("diff").cast("bigint")
        * F.length(F.abs(F.col("diff")).cast("string")))
    return d.groupBy(bucket.cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("diff").cast("bigint").alias("min_diff"),
        F.max("diff").cast("bigint").alias("max_diff"),
    )


_EQD_BUCKETS = 10


@register("profile_equidepth_price", oracle=f"""
WITH vf AS (
  SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n FROM vf
), cum AS (
  SELECT v, f,
         CAST(SUM(f) OVER (ORDER BY v
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM vf
), assigned AS (
  SELECT v, f,
         CAST(((c - 1) * {_EQD_BUCKETS}) // (SELECT n FROM tot)
              AS BIGINT) AS bucket
  FROM cum
)
SELECT bucket,
       CAST(MIN(v) AS BIGINT) AS lo,
       CAST(MAX(v) AS BIGINT) AS hi,
       CAST(SUM(f) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_values
FROM assigned GROUP BY bucket
""")
def profile_equidepth_price(spark, sf_dir):
    """Exact equi-depth (equal-height) histogram of price dollars —
    the optimizer statistic behind selectivity estimation and the
    partition-boundary choice of a range-partitioned write.  The
    fact-table pass is ONE value-frequency aggregate; bucket
    assignment runs on the distinct-value table (domain-sized: a
    cumulative window + one integer division per value — bucket =
    (cum-1)*B div n), so no global row sort ever happens — the trick
    that keeps equi-depth feasible at 100 TB, where the naive ntile()
    over raw rows is a full-table sort.  Depth balance is exact up to
    tie granularity (a heavy value lands in one bucket whole)."""
    li = load_table(spark, sf_dir, "lineitem")
    vf = (li.groupBy(F.floor("l_extendedprice").cast("bigint").alias("v"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("f")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vf.select("v", "f", F.sum("f").over(w).cast("bigint").alias("c"))
    tot = vf.agg(F.sum("f").cast("bigint").alias("n"))
    assigned = (cum.crossJoin(F.broadcast(tot))
                .select("v", "f",
                        F.expr(f"((c - 1) * {_EQD_BUCKETS}) div n")
                        .cast("bigint").alias("bucket")))
    return assigned.groupBy("bucket").agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
        F.sum("f").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )


_HIST_BUCKET = 100


@register("profile_histogram_l1_drift", oracle=f"""
WITH a AS (
  SELECT n_chars // {_HIST_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS ca
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT n_chars // {_HIST_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cb
  FROM documents WHERE doc_id % 3 != 1 GROUP BY 1
), na AS (SELECT CAST(SUM(ca) AS BIGINT) AS n FROM a),
nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS n FROM b),
j AS (
  SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM a FULL OUTER JOIN b ON b.bucket = a.bucket
)
SELECT bucket, ca, cb,
       CAST({_rdiv_sql("1000000 * ca", "(SELECT n FROM na)")} AS BIGINT)
         AS pa_ppm,
       CAST({_rdiv_sql("1000000 * cb", "(SELECT n FROM nb)")} AS BIGINT)
         AS pb_ppm,
       CAST(abs({_rdiv_sql("1000000 * ca", "(SELECT n FROM na)")}
                - {_rdiv_sql("1000000 * cb", "(SELECT n FROM nb)")})
            AS BIGINT) AS l1_contrib_ppm
FROM j
""")
def profile_histogram_l1_drift(spark, sf_dir):
    """Distributional drift between two corpus snapshots (the
    profile_snapshot_drift pair: even doc_ids vs non-(3k+1)) as the L1
    distance between their normalized length histograms — the
    monitor that catches SHAPE changes the scalar min/max/sum drift
    row misses.  Each side's share is rounded to ppm FIRST and the
    per-bucket |Δ| is exact integer arithmetic — no p*log(p/q)
    floating point, no cross-product overflow (a naive ca*nb
    cross-multiply outgrows int64 past ~3e9 rows/side).  Two grouped
    counts + one bucket-keyed outer join; the histogram is
    domain-sized."""
    docs = load_table(spark, sf_dir, "documents")
    a = (docs.filter(F.col("doc_id") % 2 == 0)
         .groupBy(F.expr(f"n_chars div {_HIST_BUCKET}").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("ca")))
    b = (docs.filter(F.col("doc_id") % 3 != 1)
         .groupBy(F.expr(f"n_chars div {_HIST_BUCKET}").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("cb")))
    na = a.agg(F.sum("ca").cast("bigint").alias("n"))
    nb = b.agg(F.sum("cb").cast("bigint").alias("n"))
    j = (a.join(b, "bucket", "full_outer")
         .select("bucket",
                 F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb"))
         .crossJoin(F.broadcast(na.select(F.col("n").alias("na"))))
         .crossJoin(F.broadcast(nb.select(F.col("n").alias("nb")))))
    pa = F.expr(_RDIV.format(a="1000000 * ca", b="na")).cast("bigint")
    pb = F.expr(_RDIV.format(a="1000000 * cb", b="nb")).cast("bigint")
    return j.select(
        "bucket", "ca", "cb",
        pa.alias("pa_ppm"), pb.alias("pb_ppm"),
        F.abs(pa - pb).cast("bigint").alias("l1_contrib_ppm"))


@register("privacy_k_anonymity", oracle="""
WITH c AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2
), t AS (SELECT COUNT(*) AS total FROM customer)
SELECT c_nationkey, c_mktsegment, class_size,
       class_size < 5 AS at_risk,
       CAST(class_size AS DOUBLE) / t.total AS row_share
FROM c, t
""")
def privacy_k_anonymity(spark, sf_dir):
    """K-anonymity release audit (k=5) over the (nation, segment)
    quasi-identifier pair: equivalence-class sizes, at-risk flags,
    and row shares — operators/profiling.py k_anonymity."""
    return P.k_anonymity(
        load_table(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"])


@register("privacy_l_diversity", oracle="""
WITH j AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority
  FROM customer JOIN orders ON o_custkey = c_custkey
), pv AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority, COUNT(*) AS vn
  FROM j GROUP BY 1, 2, 3
), pc AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(SUM(vn) AS BIGINT) AS class_size,
         CAST(COUNT(*) AS BIGINT) AS l_diversity,
         MAX(vn) AS dom
  FROM pv GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_size, l_diversity,
       CAST(dom AS DOUBLE) / class_size AS dominant_share,
       l_diversity < 3 AS at_risk
FROM pc
""")
def privacy_l_diversity(spark, sf_dir):
    """L-diversity audit (l=3) over the (nation, segment) quasi-id
    classes with order priority as the sensitive attribute — catches
    the homogeneity leak k-anonymity misses (operators/profiling.py
    l_diversity).  Customer-keyed join + two map-side-combined
    aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_nationkey", "c_mktsegment", "o_orderpriority")
    return P.l_diversity(
        j, ["c_nationkey", "c_mktsegment"], "o_orderpriority")


@register("privacy_t_closeness", oracle="""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         o_orderstatus, o_orderpriority AS v
  FROM orders
), gv AS (
  SELECT yr, o_orderstatus, v, CAST(COUNT(*) AS BIGINT) AS c_gv
  FROM base GROUP BY 1, 2, 3
), gl AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c_v FROM base GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM base
), sizes AS (
  SELECT yr, o_orderstatus, CAST(SUM(c_gv) AS BIGINT) AS n_g
  FROM gv GROUP BY 1, 2
), sc AS (
  SELECT gv.yr, gv.o_orderstatus,
         MAX(sizes.n_g) AS n_g, MAX(tot.n_total) AS n_total,
         CAST(SUM(abs(gv.c_gv * tot.n_total - gl.c_v * sizes.n_g)
                  - gl.c_v * sizes.n_g) AS BIGINT) AS present_sum
  FROM gv
  JOIN gl USING (v)
  JOIN sizes USING (yr, o_orderstatus)
  CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT yr, o_orderstatus, n_g,
       present_sum + n_total * n_g AS numer,
       CAST(present_sum + n_total * n_g AS DOUBLE)
         / (2.0 * CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE)) AS tvd
FROM sc
""")
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit (operators/profiling.py t_closeness): per
    (order-year, status) quasi-identifier group, the total variation
    distance between the group's priority distribution and the global
    one — integer numerator via the multiply-through trick (absent
    values folded in algebraically, no group x domain cross join);
    the only float op is the final division.  Complements
    k-anonymity / l-diversity: those count, this compares
    distributions."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        "o_orderstatus", "o_orderpriority")
    return t_closeness(o, ["yr", "o_orderstatus"], "o_orderpriority")


_BAL_CENTS = ("CAST(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) "
              "* 100 AS BIGINT)")


@register("privacy_generalize_to_k", oracle=f"""
WITH base AS (
  SELECT c_nationkey AS cat, ({_BAL_CENTS} + 100000) AS bal
  FROM customer
), p1 AS (
  SELECT CAST(10000 AS BIGINT) AS width,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(c) AS BIGINT) AS min_class
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 10000)
), p2 AS (
  SELECT CAST(100000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 100000)
), p3 AS (
  SELECT CAST(1000000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 1000000)
), p4 AS (
  SELECT CAST(10000000 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(MIN(c) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY cat, bal // 10000000)
), allw AS (
  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL
  SELECT * FROM p3 UNION ALL SELECT * FROM p4
)
SELECT width, n_classes, min_class,
       min_class >= 5 AS achieves_k,
       COALESCE(width = MIN(CASE WHEN min_class >= 5
                            THEN width END) OVER (), FALSE)
         AS chosen
FROM allw
""")
def privacy_generalize_to_k(spark, sf_dir):
    """Minimal-generalization k-anonymity search
    (operators/profiling.py generalize_to_k): nation as the
    categorical quasi-identifier, account balance (shifted to
    non-negative cents) generalized at $100 / $1k / $10k / $100k
    bucket widths (the last fully suppresses the numeric QI); one
    corpus pass at the finest width, coarser widths re-aggregate the
    bucket table; the smallest width whose minimum equivalence class
    reaches k = 5 is flagged ``chosen``."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").alias("cat"),
        (F.expr(_BAL_CENTS) + 100000).alias("bal"),
    )
    return generalize_to_k(
        base, "cat", "bal", [10000, 100000, 1000000, 10000000], k=5)


@register("percentiles_exact", oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
""")
def percentiles_exact(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both 1-based linear interpolation)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("p99"),
    )


@register("value_histogram", oracle="""
SELECT CAST(least(floor(l_extendedprice / 5000.0), 24) AS BIGINT) AS bin,
       CAST(least(floor(l_extendedprice / 5000.0), 24) * 5000 AS BIGINT)
         AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM lineitem
GROUP BY 1, 2
""")
def value_histogram(spark, sf_dir):
    """Equal-width value histogram (25 fixed 5000-wide bins, top bin
    open-ended) — the profiling primitive behind distribution reports;
    FIXED bin edges (never data-dependent min/max, which would need an
    extra pass and make bins non-reproducible across runs/appends).
    Partial-aggregate shape: shuffle carries one row per (partition,
    bin)."""
    l = load_table(spark, sf_dir, "lineitem")
    bin_ = F.least(F.floor(F.col("l_extendedprice") / 5000.0), F.lit(24)) \
        .cast("bigint")
    return (
        l.groupBy(bin_.alias("bin"), (bin_ * 5000).cast("bigint").alias("bin_lo"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("l_extendedprice").alias("total"),
        )
    )


@register("stratified_sample", oracle="""
WITH ranked AS (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                     c_custkey) AS rn
  FROM customer
)
SELECT c_custkey, c_mktsegment, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 20
""")
def stratified_sample(spark, sf_dir):
    """Stratified sampling with EXACT per-stratum counts: rank rows
    inside each stratum by a content hash (md5 of the key — identical
    bytes in Spark and DuckDB, so the sample is engine-reproducible)
    and keep the first 20.  Runs through the TWO-LEVEL top-k
    (`operators/skew.py stratified_topk`): local top-20 per
    (stratum, content-salt) then a re-rank of the bounded survivors —
    a handful of huge strata never funnels through single-partition
    windows.  Provably identical to the one-window form, so the plain
    window is the oracle."""
    from ..operators.skew import stratified_topk

    c = load_table(spark, sf_dir, "customer")
    out = stratified_topk(
        c,
        "c_mktsegment",
        [F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")],
        n=20,
        salt_buckets=8,
    )
    return out.select("c_custkey", "c_mktsegment", "rn")


@register("winsorized_stats", oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n_items,
       round(CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS winsorized_mean
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""")
def winsorized_stats(spark, sf_dir):
    """Winsorized mean per group: exact p05/p95 bounds computed per
    group (tiny aggregate), broadcast back onto the fact table, values
    clamped, then a decimal-exact mean.  The robust-statistics shape
    for 100 TB quality filtering: the expensive pass is a plain
    partial aggregate; the bounds join is broadcast (no fact shuffle
    beyond the group agg)."""
    l = load_table(spark, sf_dir, "lineitem")
    bounds = l.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        l.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(clamped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_mean"),
        )
    )


@register("weighted_sample", oracle="""
WITH m AS (SELECT MAX(o_totalprice) AS mx FROM orders)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders, m
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0
      < o_totalprice / mx
""")
def weighted_sample(spark, sf_dir):
    """Probability-proportional-to-size sampling, fully deterministic:
    each order's keep-probability is its price relative to the max,
    and the "random" draw is a 60-bit md5 hash of the key mapped to
    [0,1) — identical bytes in Spark (conv/substr/md5) and DuckDB, so
    the sample is engine- and rerun-reproducible (the PPS analog of
    deterministic_sample).  The max is a scalar broadcast; the filter
    is map-only."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("mx"))
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
               16, 10).cast("double")
        / F.lit(float(2 ** 60))
    )
    return (
        o.crossJoin(F.broadcast(mx))
        .filter(u < F.col("o_totalprice") / F.col("mx"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register("deterministic_sample", oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey % 20 = 3
""")
def deterministic_sample(spark, sf_dir):
    """Deterministic systematic sampling (hash/mod) — at 100 TB,
    mod-sampling on a key is reproducible across runs and engines,
    unlike Bernoulli TABLESAMPLE."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 20 == 3)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register("basket_association_pairs", oracle=f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), tot AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM baskets
), ic AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY 1
), freq AS MATERIALIZED (
  SELECT i, c FROM ic CROSS JOIN tot
  WHERE c >= greatest(3, n_baskets // 2000)
), fb AS (
  SELECT baskets.b, baskets.i, freq.c
  FROM baskets JOIN freq ON freq.i = baskets.i
), p AS (
  SELECT x.i AS u, y.i AS v, x.c AS c_u, y.c AS c_v,
         CAST(COUNT(*) AS BIGINT) AS c_uv
  FROM fb x JOIN fb y ON y.b = x.b AND y.i > x.i
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, c_u, c_v, c_uv,
       CAST({_rdiv_sql("1000000 * c_uv", "n_baskets")} AS BIGINT)
         AS supp_ppm,
       CAST({_rdiv_sql("1000000 * c_uv", "c_u")} AS BIGINT)
         AS conf_uv_ppm,
       CAST({_rdiv_sql("1000000 * c_uv", "c_v")} AS BIGINT)
         AS conf_vu_ppm,
       CAST(n_baskets * c_uv AS DOUBLE) / CAST(c_u * c_v AS DOUBLE)
         AS lift
FROM p CROSS JOIN tot
ORDER BY c_uv DESC, u, v
LIMIT 20
""")
def basket_association_pairs(spark, sf_dir):
    """A-priori frequent part pairs over order baskets
    (operators/basket.py association_pairs): relative min-support
    prune BEFORE pairing (downward closure — the bounded frequent-item
    table broadcasts), within-order pair counting, exact ppm
    support/confidence and one-division lift.  Top 20 by pair count."""
    li = load_table(spark, sf_dir, "lineitem")
    return association_pairs(
        li, "l_orderkey", "l_partkey",
        minsup_div=2000, minsup_floor=3, top=20)
