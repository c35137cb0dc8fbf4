"""Distributed exact linear algebra over embedding columns.

``gram_matrix`` computes G = Xᵀ X over the corpus — the primitive
under PCA / whitening / covariance-based outlier screens in an
embedding pipeline.  Scale shape: each Arrow batch contributes a
LOCAL d×d partial via one int64 matmul (numpy, exact), so the shuffle
carries d² rows PER PARTITION instead of d² per vector — at 100 TB
the reduce input is (#partitions × d²), independent of corpus size.
This is the textbook map-side-combine formulation of a gram matrix;
a per-row explode/self-join would shuffle n·d² rows and die at scale.

Exactness: coordinates are fixed-point microunits (round-half-away,
matching DuckDB's ``round``); products and partial sums are int64
(exact to ±9.2e18 — a partial overflows only past ~9e6 rows × unit
magnitude per batch, far above Arrow batch sizes); the global sum
runs as DECIMAL(38,0), so the result is bit-identical to the SQL twin
at any partitioning.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def gram_matrix(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Upper-triangular exact gram matrix: (i, j, gram) for j >= i,
    where gram = Σ_rows x[i]·x[j] in microunit² fixed point, emitted
    as DOUBLE (the exact decimal's nearest double).  NULL vectors are
    skipped (mirrored by the SQL twin's ``WHERE vec IS NOT NULL``);
    a ragged / wrong-``dim`` vector or a NaN/Inf coordinate RAISES —
    silently dropping it would diverge from the twin, which includes
    every position of every non-NULL vector (advisor finding, r06):
    dirty data must fail loudly, not fail parity."""
    import numpy as np

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iu, ju = np.triu_indices(dim)
        for pdf in batches:
            vecs = []
            for v in pdf[vec_col]:
                if v is None:
                    continue
                if len(v) != dim:
                    raise ValueError(
                        f"gram_matrix(dim={dim}): vector of length "
                        f"{len(v)} in column {vec_col!r} — ragged input "
                        "would silently diverge from the SQL twin"
                    )
                vecs.append(v)
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            if not np.isfinite(x).all():
                raise ValueError(
                    f"gram_matrix: NaN/Inf coordinate in {vec_col!r} — "
                    "no fixed-point image (the SQL twin's CAST would "
                    "abort); sanitize upstream"
                )
            # round half away from zero, matching DuckDB/Spark round()
            xi = (np.sign(x) * np.floor(np.abs(x) * SCALE + 0.5)).astype(
                np.int64)
            m = xi.T @ xi  # exact int64 matmul
            yield pd.DataFrame({
                "i": iu.astype("int64"),
                "j": ju.astype("int64"),
                "partial": m[iu, ju],
            })

    parts = df.select(vec_col).mapInPandas(
        partials, "i bigint, j bigint, partial bigint")
    return (
        parts.groupBy("i", "j")
        .agg(F.sum(F.col("partial").cast("decimal(38,0)")).alias("_s"))
        .select("i", "j", F.col("_s").cast("double").alias("gram"))
    )


def gram_matrix_sql() -> str:
    """DuckDB twin over ``embeddings(vec_id, embedding)``:
    per-coordinate fixed-point explode + upper-triangle self-join —
    value-exact against :func:`gram_matrix` (the join is O(n·d²), fine
    for an oracle; the operator's map-side-combine is the scale
    path)."""
    return f"""
WITH v AS (
  SELECT vec_id AS rid, CAST(i - 1 AS BIGINT) AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {SCALE}, 0) AS BIGINT) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  WHERE embedding IS NOT NULL
)
SELECT a.pos AS i, b.pos AS j,
       CAST(SUM(CAST(a.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0)))
            AS DOUBLE) AS gram
FROM v a JOIN v b ON b.rid = a.rid AND b.pos >= a.pos
GROUP BY 1, 2
"""
