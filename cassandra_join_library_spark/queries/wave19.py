"""Round-9 sixth wave: JPEG segment-walk parsing (variable-offset
binary decode) and an exact equi-depth histogram profile.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..registry import register
from ..sources.catalog import load_table


def _jpeg_walk_ctes(steps: int) -> str:
    u8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"
    u16 = lambda off: f"({u8(off)} * 256 + {u8(f'({off}) + 1')})"
    ctes = ["w0 AS (SELECT doc_id, h, CAST(3 AS BIGINT) AS o FROM hx)"]
    for k in range(steps):
        ctes.append(
            f"w{k + 1} AS (SELECT doc_id, h, "
            f"CASE WHEN {u16('o')} = 65472 THEN o "
            f"ELSE o + 2 + {u16('(o) + 2')} END AS o FROM w{k})"
        )
    return ",\n".join(ctes)


_J_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"
_J_U16 = lambda off: f"({_J_U8(off)} * 256 + {_J_U8(f'({off}) + 1')})"

_JPEG_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         doc_id % 1200 + 1 AS hei,
         doc_id % 1600 + 1 AS wid,
         doc_id % 9 + 4 AS com_len,
         doc_id % 3 = 0 AS two_coms
  FROM documents
), hx AS (
  SELECT doc_id,
         'ffd8'
         || 'ffe0' || '0010' || '4a46494600' || '0101' || '00'
           || '00480048' || '0000'
         || 'fffe' || lpad(to_hex((com_len // 256) % 256), 2, '0')
                   || lpad(to_hex(com_len % 256), 2, '0')
                   || repeat('41', doc_id % 9 + 2)
         || CASE WHEN two_coms THEN
              'fffe' || lpad(to_hex((com_len // 256) % 256), 2, '0')
                     || lpad(to_hex(com_len % 256), 2, '0')
                     || repeat('41', doc_id % 9 + 2)
            ELSE '' END
         || 'ffc0' || '0011' || '08'
           || lpad(to_hex((hei // 256) % 256), 2, '0')
             || lpad(to_hex(hei % 256), 2, '0')
           || lpad(to_hex((wid // 256) % 256), 2, '0')
             || lpad(to_hex(wid % 256), 2, '0')
           || '03' || '011100' || '021100' || '031100'
         || 'ffd9' AS h
  FROM src
),
{_jpeg_walk_ctes(M._JPEG_WALK_STEPS)}
SELECT doc_id,
       len(h) // 2 >= 4 AND substr(h, 1, 6) = 'ffd8ff'
         AND {_J_U16('o')} = 65472 AS is_jpeg,
       CAST({_J_U8('o + 4')} AS BIGINT) AS jpeg_precision,
       CAST({_J_U16('(o) + 5')} AS BIGINT) AS jpeg_height,
       CAST({_J_U16('(o) + 7')} AS BIGINT) AS jpeg_width,
       CAST({_J_U8('o + 9')} AS BIGINT) AS n_components,
       CAST(o AS BIGINT) AS sof_offset
FROM w{M._JPEG_WALK_STEPS}
"""


@register("mm_jpeg_parse", oracle=_JPEG_ORACLE)
def mm_jpeg_parse(spark, sf_dir):
    """JPEG frame-header round-trip (operators/multimodal.py
    synthesize_jpeg / parse_jpeg_metadata): minimal SOI/APP0/COM/SOF0
    streams with DATA-DEPENDENT segment lengths (one or two COM
    segments sized by doc_id), decoded by walking the segment chain —
    the first VARIABLE-OFFSET parse in the multimodal suite, unrolled
    to chained offset columns so the plan stays linear and fully
    codegen'd.  Completes the image-container family
    (BMP/PNG/GIF/JPEG).  Map-only; the oracle builds and walks the
    identical hex image."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_jpeg(docs, "doc_id")
    return M.parse_jpeg_metadata(built, "doc_id")


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
