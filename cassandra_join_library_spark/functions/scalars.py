"""Scalar/aggregate helper expressions.

The reference has no scalar-function library (SURVEY.md §2.6) — these
exist for the engine's extended surface and for oracle-exact parity.

``dsum``/``davg`` implement the repo-wide parity convention: double
"money" columns are summed as DECIMAL(18,6).  Decimal addition is
exact and associative, so the result is independent of Spark's
partitioning / aggregation order — the same number DuckDB computes —
unlike a double sum, which varies in the last ULP with partition count.
At 100 TB this also means results are stable across reruns and cluster
sizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 27,6: exact to 6 dp with headroom to |v| < 10^21 — a DECIMAL(18,6)
# element cast would abort the whole aggregate (ANSI overflow) on a
# single corrupt value >= 10^12; the SUM result widens further, and
# the final double cast is unchanged.  The oracle SQL keeps (18,6):
# for in-range data both are exact, so the values agree.
DEC = "decimal(27,6)"


def dsum(col: "Column | str", alias: "str | None" = None) -> Column:
    """Order-independent exact sum of a money column, emitted as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: "Column | str", alias: "str | None" = None) -> Column:
    """Deterministic average: exact decimal sum cast to double, divided
    by the count (double division of identical operands is exact)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def content_digest(content_cols: "list[str]") -> Column:
    """NULL-safe fixed-width (sha2-256) content digest.

    ``concat_ws`` alone SKIPS NULLs, so ('a', NULL) / (NULL, 'a') /
    ('a',) would all digest identically — and an unescaped separator
    lets ('a\\x1f', 'b') collide with ('a', '\\x1fb').  Each cell is
    tagged first: NULL → \\x00, value v → \\x01·v — the tags are
    disjoint, so every distinct content tuple digests distinctly
    (separator bytes inside values still differ by the adjacent tag).
    Shared by incremental dedup and snapshot diffing so the two
    digest-keyed paths can never disagree.

    NULL-equality contract: digest equality gives content tuples
    ``IS NOT DISTINCT FROM`` semantics — (NULL,) matches (NULL,).
    That is the intended dedup behavior (two NULL-text docs ARE
    duplicates of each other); SQL oracles over digest-keyed paths
    must therefore compare with ``IS NOT DISTINCT FROM``, never ``=``.
    """
    cells = [
        F.when(F.col(c).isNull(), F.lit("\x00"))
        .otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))
        for c in content_cols
    ]
    return F.sha2(F.concat_ws("\x1f", *cells), 256)
