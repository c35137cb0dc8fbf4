"""Multimodal-column queries.

Both are oracle-checked: the binary plumbing (encode → octet_length /
sha256) is pure SQL in DuckDB too, and the fake-decode derives all
fields deterministically from the payload (documents are ASCII, so
char positions == byte positions on the oracle side).
"""

from __future__ import annotations

from ..operators import multimodal as M
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs


@register("mm_binary_metadata", oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha256_hex
FROM documents
""")
def mm_binary_metadata(spark, sf_dir):
    """Opaque-binary metadata extraction (length + content digest)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.attach_binary(docs, "doc_id", "text")
    return M.binary_metadata(payload, "doc_id")


@register("mm_decode_features", oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(list_sum(list_transform(generate_series(1, least(16, length(text))),
                                    i -> ascii(text[i]))) % 256 AS BIGINT) AS checksum
FROM documents
""")
def mm_decode_features(spark, sf_dir):
    """Arrow-batched (mapInPandas) stub decode of binary payloads —
    exercises the real multimodal UDF plumbing end-to-end."""
    return M.decode_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("mm_resize", oracle="""
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS bl FROM documents
), dims AS (
  SELECT doc_id,
         greatest(bl % 640, 1) AS w,
         greatest((bl * 7) % 480, 1) AS h
  FROM d
)
SELECT doc_id,
       w * 224 // (CASE WHEN h <= w THEN w ELSE h END) AS out_width,
       h * 224 // (CASE WHEN h <= w THEN w ELSE h END) AS out_height,
       CAST(224 AS BIGINT) AS scale_num,
       CAST(CASE WHEN h <= w THEN w ELSE h END AS BIGINT) AS scale_den
FROM dims
""")
def mm_resize(spark, sf_dir):
    """Stubbed image-resize (letterbox to 224x224) via mapInPandas —
    integer-ratio math so the oracle is exact."""
    return M.resize_images(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           target_w=224, target_h=224)


@register("mm_frame_sample", oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS bl FROM documents
), f AS (
  SELECT doc_id, text,
         unnest(generate_series(0, least(8, bl // 10) - 1)) AS frame_idx
  FROM d WHERE bl >= 10
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(list_sum(list_transform(generate_series(1, 10),
                                    i -> ascii(text[frame_idx * 10 + i]))) % 997
            AS BIGINT) AS frame_checksum
FROM f
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT),
       CAST(list_sum(list_transform(generate_series(1, bl),
                                    i -> ascii(text[i]))) % 997 AS BIGINT)
FROM d WHERE bl > 0 AND bl < 10
""")
def mm_frame_sample(spark, sf_dir):
    """Stubbed video frame sampling (every 10 bytes = one 'frame',
    max 8) — demonstrates the row-expanding 1->N mapInPandas shape;
    documents are ASCII so the char-indexed oracle is byte-exact."""
    return M.sample_frames(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           every_n=10, max_frames=8)
