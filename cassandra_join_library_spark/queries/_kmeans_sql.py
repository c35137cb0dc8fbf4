"""Unrolled-iteration SQL twin of ``operators.corpus.kmeans_fit``.

Lloyd's k-means is iterative, which normally puts it beyond a SQL
oracle — but the iteration count is a fixed parameter, so the loop can
be macro-unrolled into ``n_iter`` assignment/update CTE pairs.  That
only yields a *value-exact* oracle because the operator runs on
fixed-point microunits (``KMEANS_SCALE``): distances are exact BIGINT
sums (order-independent), centroid means are integer divisions rounded
half away from zero, and argmin ties break on the cluster index — no
step depends on float summation order, so DuckDB reproduces every
assignment bit-for-bit.  The centroid update uses DuckDB's ``//``
(BIGINT integer division), exact at any magnitude; coordinate SUMs
must still fit BIGINT (|sum| < 2^63 microunits ≈ 9.2e12 at |x|<=10 per
member — ~9e11 members per cluster), far above any realistic corpus.

CTEs produced (matching the operator step-for-step):
  v      — (vid, pos, x) microunit long-format vectors
  c0     — init: the k smallest vids' vectors, cluster = rank-1
  d{i}   — exact squared distances under centroids c{i}
  a{i}   — argmin assignment (ties → lowest cluster)
  c{i+1} — integer rounded-mean update; empty clusters keep c{i}
"""

from __future__ import annotations

from ..operators.corpus import KMEANS_SCALE


def kmeans_ctes(k: int, n_iter: int) -> str:
    """Return the WITH-clause body (no ``WITH`` keyword) over the
    ``embeddings`` table whose final CTE ``a{n_iter - 1}`` is the
    (vid, cl) assignment table and ``c{n_iter}`` the final (cl, pos,
    cx) microunit centroids."""
    parts = [
        f"""v AS (
  SELECT vec_id AS vid, i - 1 AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE}, 0)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
)""",
        f"""ids AS (
  SELECT vid, CAST(row_number() OVER (ORDER BY vid) - 1 AS BIGINT) AS cl
  FROM (SELECT DISTINCT vid FROM v) ORDER BY vid LIMIT {k}
)""",
        """c0 AS (
  SELECT ids.cl, v.pos, v.x AS cx FROM ids JOIN v USING (vid)
)""",
    ]
    for i in range(n_iter):
        parts.append(f"""d{i} AS (
  SELECT v.vid, c.cl, sum((v.x - c.cx) * (v.x - c.cx)) AS d
  FROM v JOIN c{i} c USING (pos) GROUP BY 1, 2
)""")
        parts.append(f"""a{i} AS (
  SELECT vid, cl FROM (
    SELECT vid, cl,
           row_number() OVER (PARTITION BY vid ORDER BY d ASC, cl ASC) AS rn
    FROM d{i}) WHERE rn = 1
)""")
        # integer mean rounded half away from zero, in exact integer
        # arithmetic: `//` is DuckDB INTEGER division on BIGINTs, so
        # abs(s) // n stays exact at any magnitude — float `/` would
        # silently lose exactness past 2^53 (~1e9 members at |x|<=10)
        parts.append(f"""c{i + 1} AS (
  SELECT cc.cl, cc.pos, coalesce(m.cx, cc.cx) AS cx
  FROM c{i} cc LEFT JOIN (
    SELECT a.cl, v.pos,
           CAST((CASE WHEN sum(v.x) >= 0 THEN 1 ELSE -1 END)
                * (abs(sum(v.x)) // count(*)
                   + CASE WHEN 2 * (abs(sum(v.x)) % count(*)) >= count(*)
                     THEN 1 ELSE 0 END)
                AS BIGINT) AS cx
    FROM a{i} a JOIN v USING (vid) GROUP BY 1, 2) m
  ON m.cl = cc.cl AND m.pos = cc.pos
)""")
    return ",\n".join(parts)


def kmeans_assign_sql(k: int, n_iter: int) -> str:
    """Full oracle for ``kmeans_clusters``: (vid, cluster) per vector."""
    return (
        "WITH " + kmeans_ctes(k, n_iter)
        + f"\nSELECT vid, cl AS cluster FROM a{n_iter - 1}"
    )


def kmeans_centroids_cte(k: int, n_iter: int) -> str:
    """CTE body ending in ``cent`` — (cent_id, embedding DOUBLE[]) from
    the trained centroids, for composing into IVF-search oracles.  The
    microunit → double conversion (cx / 10^6) is the same IEEE division
    the operator performs, so both engines search identical centroids."""
    return (
        kmeans_ctes(k, n_iter)
        + f""",
cent AS (
  SELECT cl AS cent_id,
         list(cx / {KMEANS_SCALE}.0 ORDER BY pos) AS embedding
  FROM c{n_iter} GROUP BY cl
)"""
    )
