"""Round-9 tenth wave: Cohen's kappa between quality raters, a
hashing-trick collision audit, and an ID3v2 tag parse with syncsafe
size decoding.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import _ORACLES, register
from ..sources.catalog import load_table
from .wave9 import _rdiv_sql
from ..operators.stats import _RDIV, staged_ppm

# this module composes curation's oracle strings at import time, so
# curation must register first
from . import curation  # noqa: F401


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
    from .curation import text_c4_line_filter, text_gopher_rules

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


_HASH_BUCKETS = 4096

@register("text_hashing_trick_audit", oracle=f"""
WITH tok AS (
  SELECT doc_id, i AS pos, w[i] AS t1, w[i + 1] AS t2
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, len(w) - 1)) AS u(i)
), grams AS (
  SELECT doc_id, t1 || ' ' || t2 AS gram,
         ('0x' || substr(md5(t1 || ' ' || t2), 1, 15))::BIGINT
           % {_HASH_BUCKETS} AS bucket
  FROM tok
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_grams,
         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_distinct_buckets
  FROM grams GROUP BY 1
)
SELECT doc_id, n_grams, n_distinct_grams, n_distinct_buckets,
       CAST(n_distinct_grams - n_distinct_buckets AS BIGINT)
         AS n_collisions,
       CAST({_rdiv_sql("1000000 * (n_distinct_grams - n_distinct_buckets)",
                       "n_distinct_grams")} AS BIGINT) AS collision_ppm
FROM per_doc
""")
def text_hashing_trick_audit(spark, sf_dir):
    """The hashing trick, audited: word bigrams hashed into a FIXED
    {b}-bucket feature space (fastText / Vowpal-style bounded
    vocabularies — the only way a feature map survives 100 TB), with
    the per-document collision rate measured exactly — distinct grams
    minus distinct buckets is the number of features silently merged.
    One token pass builds the bigrams (adjacent array elements — no
    self-join), one doc-keyed aggregate counts; the feature space
    never materializes anywhere, which is the point."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "t1"),
        F.split("text", " ").alias("w"),
    ).filter(F.col("pos") < F.size("w") - 1).select(
        "doc_id", "t1",
        F.element_at("w", F.col("pos") + 2).alias("t2"))
    grams = tok.select(
        "doc_id",
        F.concat("t1", F.lit(" "), "t2").alias("gram"),
    ).select(
        "doc_id", "gram",
        (F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
         .cast("bigint") % _HASH_BUCKETS).alias("bucket"))
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.countDistinct("gram").cast("bigint").alias("n_distinct_grams"),
        F.countDistinct("bucket").cast("bigint")
        .alias("n_distinct_buckets"))
    return per_doc.select(
        "doc_id", "n_grams", "n_distinct_grams", "n_distinct_buckets",
        (F.col("n_distinct_grams") - F.col("n_distinct_buckets"))
        .cast("bigint").alias("n_collisions"),
        F.expr(_RDIV.format(
            a="1000000 * (n_distinct_grams - n_distinct_buckets)",
            b="n_distinct_grams")).cast("bigint").alias("collision_ppm"),
    )


text_hashing_trick_audit.__doc__ = text_hashing_trick_audit.__doc__.format(
    b=_HASH_BUCKETS)


# --------------------------------------------------------------------------
# mm_id3_tag_parse — ID3v2.4 header + frame walk with SYNCSAFE sizes
# --------------------------------------------------------------------------

_ID3_MAGIC = 4801587       # u24('ID3')
_TIT2 = 1414091826
_TPE1 = 1414546737
_TALB = 1413565506
_ID3_WALK_STEPS = 4        # <= 3 frames + 1 slack


def _ss4_sql(x: str) -> str:
    """DuckDB hex of a u28 as 4 SYNCSAFE bytes (7 bits each)."""
    return (f"lpad(to_hex((({x}) // 2097152) % 128), 2, '0') || "
            f"lpad(to_hex((({x}) // 16384) % 128), 2, '0') || "
            f"lpad(to_hex((({x}) // 128) % 128), 2, '0') || "
            f"lpad(to_hex(({x}) % 128), 2, '0')")


_I_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"
_I_U32 = lambda off: (f"({_I_U8(off)} * 16777216 + "
                      f"{_I_U8(f'({off}) + 1')} * 65536 + "
                      f"{_I_U8(f'({off}) + 2')} * 256 + "
                      f"{_I_U8(f'({off}) + 3')})")
_I_SS4 = lambda off: (f"({_I_U8(off)} * 2097152 + "
                      f"{_I_U8(f'({off}) + 1')} * 16384 + "
                      f"{_I_U8(f'({off}) + 2')} * 128 + "
                      f"{_I_U8(f'({off}) + 3')})")


def _id3_walk_ctes() -> str:
    ctes = ["w0 AS (SELECT doc_id, h, ts, CAST(11 AS BIGINT) AS o, "
            "CAST(0 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS tl, "
            "FALSE AS alb FROM hdr)"]
    # a frame starts with an ASCII-letter id; a 0x00 byte where an id
    # should be means the padding area — readers stop there, not at
    # the declared tag end (the padding is INSIDE tag_size)
    stop = f"o >= 11 + ts OR {_I_U8('o')} = 0"
    for s in range(_ID3_WALK_STEPS):
        ctes.append(
            f"w{s + 1} AS (SELECT doc_id, h, ts, "
            f"CASE WHEN {stop} THEN o "
            f"ELSE o + 10 + {_I_SS4('(o) + 4')} END AS o, "
            f"CASE WHEN {stop} THEN k ELSE k + 1 END AS k, "
            f"CASE WHEN NOT ({stop}) AND {_I_U32('o')} = {_TIT2} "
            f"THEN {_I_SS4('(o) + 4')} - 1 ELSE tl END AS tl, "
            f"alb OR (NOT ({stop}) AND {_I_U32('o')} = {_TALB}) AS alb "
            f"FROM w{s})")
    return ",\n".join(ctes)


_ID3_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         doc_id % 12 + 1 AS tit_len,
         doc_id % 7 + 1 AS art_len,
         doc_id % 3 = 0 AS has_alb,
         doc_id % 5 + 2 AS alb_len,
         120 + doc_id % 300 AS pad
  FROM documents
), sized AS (
  SELECT *,
         (10 + tit_len + 1) + (10 + art_len + 1)
         + (CASE WHEN has_alb THEN 10 + alb_len + 1 ELSE 0 END)
         + pad AS tag_size
  FROM src
), hx AS (
  SELECT doc_id, tag_size AS ts,
         '494433' || '0400' || '00' || {_ss4_sql("tag_size")}
         || '54495432' || {_ss4_sql("tit_len + 1")} || '0000' || '00'
           || repeat('41', tit_len)
         || '54504531' || {_ss4_sql("art_len + 1")} || '0000' || '00'
           || repeat('42', art_len)
         || CASE WHEN has_alb THEN
              '54414c42' || {_ss4_sql("alb_len + 1")} || '0000' || '00'
              || repeat('43', alb_len) ELSE '' END
         || repeat('00', pad) AS h
  FROM sized
), hdr AS (
  SELECT doc_id, h, {_I_SS4("7")} AS ts FROM hx
),
{_id3_walk_ctes()}
SELECT doc_id,
       ({_I_U8("1")} * 65536 + {_I_U8("2")} * 256 + {_I_U8("3")})
         = {_ID3_MAGIC} AND {_I_U8("4")} = 4 AS is_id3,
       CAST(ts AS BIGINT) AS tag_size,
       CAST(k AS BIGINT) AS n_frames,
       CAST(tl AS BIGINT) AS title_len,
       alb AS has_album
FROM w{_ID3_WALK_STEPS}
"""


@register("mm_id3_tag_parse", oracle=_ID3_ORACLE)
def mm_id3_tag_parse(spark, sf_dir):
    """ID3v2.4 audio-tag round-trip with SYNCSAFE integers — the bit
    twist none of the other container parses has: ID3 sizes store 7
    bits per byte (high bit always 0 so the byte stream never fakes
    an MPEG sync pattern), so size = b0·2^21 + b1·2^14 + b2·2^7 + b3,
    exercised at BOTH levels (the tag size, forced > 127 by a padding
    area so the carry math is real, and every frame size).  The frame
    walk carries a STRUCT accumulator (offset, frame count, title
    length, album flag) through a higher-order fold — the JPEG/MP4
    offset-only walks generalized to stateful parsing.  Map-only; the
    oracle synthesizes and walks the identical tag with unrolled
    column-carrying CTEs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    tit_len = did % 12 + 1
    art_len = did % 7 + 1
    has_alb = did % 3 == 0
    alb_len = did % 5 + 2
    pad = did % 300 + 120
    tag_size = ((10 + tit_len + 1) + (10 + art_len + 1)
                + F.when(has_alb, 10 + alb_len + 1).otherwise(F.lit(0))
                + pad)

    def ss4(x):
        return F.concat(*[
            F.lpad(F.hex((x / d).cast("bigint") % 128), 2, "0")
            for d in (2097152, 16384, 128, 1)
        ])

    payload_hex = F.concat(
        F.lit("494433"), F.lit("0400"), F.lit("00"), ss4(tag_size),
        F.lit("54495432"), ss4(tit_len + 1), F.lit("0000"), F.lit("00"),
        F.expr("repeat('41', doc_id % 12 + 1)"),
        F.lit("54504531"), ss4(art_len + 1), F.lit("0000"), F.lit("00"),
        F.expr("repeat('42', doc_id % 7 + 1)"),
        F.when(has_alb, F.concat(
            F.lit("54414c42"), ss4(alb_len + 1), F.lit("0000"),
            F.lit("00"), F.expr("repeat('43', doc_id % 5 + 2)"),
        )).otherwise(F.lit("")),
        F.expr("repeat('00', doc_id % 300 + 120)"),
    )
    built = docs.select("doc_id", F.unhex(payload_hex).alias("payload"))

    hx = F.hex(F.col("payload"))

    def u8(off: str) -> str:
        return f"conv(substring(_h, ({off}) * 2 - 1, 2), 16, 10)"

    def u32(off: str) -> str:
        return (f"({u8(off)} * 16777216 + {u8(f'({off}) + 1')} * 65536 + "
                f"{u8(f'({off}) + 2')} * 256 + {u8(f'({off}) + 3')})")

    def ss4p(off: str) -> str:
        return (f"({u8(off)} * 2097152 + {u8(f'({off}) + 1')} * 16384 + "
                f"{u8(f'({off}) + 2')} * 128 + {u8(f'({off}) + 3')})")

    # stop at the declared tag end OR at a 0x00 id byte (padding —
    # see the oracle-side comment)
    step = (
        f"(acc, _s) -> CASE WHEN acc.o >= 11 + _ts "
        f"OR {u8('acc.o')} = 0 THEN acc "
        "ELSE named_struct("
        f"'o', acc.o + 10 + {ss4p('acc.o + 4')}, "
        "'k', acc.k + 1, "
        f"'tl', CASE WHEN {u32('acc.o')} = {_TIT2} "
        f"THEN {ss4p('acc.o + 4')} - 1 ELSE acc.tl END, "
        f"'alb', acc.alb OR {u32('acc.o')} = {_TALB}) END"
    )
    walk = (f"aggregate(sequence(1, {_ID3_WALK_STEPS}), "
            f"named_struct('o', CAST(11 AS BIGINT), "
            f"'k', CAST(0 AS BIGINT), 'tl', CAST(-1 AS BIGINT), "
            f"'alb', false), {step})")
    base = (built.select(
        "doc_id", hx.alias("_h"),
    ).select(
        "doc_id", "_h",
        F.expr(f"{ss4p('7')}").cast("bigint").alias("_ts"),
        F.expr(
            f"({u8('1')} * 65536 + {u8('2')} * 256 + {u8('3')}) "
            f"= {_ID3_MAGIC} AND {u8('4')} = 4").alias("_is"),
    ).select(
        "doc_id", "_is", "_ts", F.expr(walk).alias("_w"),
    ))
    return base.select(
        "doc_id",
        F.col("_is").alias("is_id3"),
        F.col("_ts").cast("bigint").alias("tag_size"),
        F.col("_w.k").cast("bigint").alias("n_frames"),
        F.col("_w.tl").cast("bigint").alias("title_len"),
        F.col("_w.alb").alias("has_album"),
    )
