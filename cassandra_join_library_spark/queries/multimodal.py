"""Multimodal queries: binary-format parsing (BMP, WAV, PNG, GIF,
JPEG, MP4, ID3, SRT), decoded features, patch and frame planning, and
perceptual fingerprint dedup for images, audio and video.

The fixtures synthesize spec-conformant binary payloads, and the
DuckDB oracles rebuild the same bytes (``from_hex``/``string_agg``)
and parse them independently, so encode, decode and hashing are all
value-graded without codec libraries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D, multimodal as M
from ..registry import register
from ..sources.catalog import load_table, spread_input
from ._shared import _rdiv_sql

#: pair counts of ``truth`` and ``pred`` and their overlap, as recall
#: and precision in integer ppm
_RECALL_PPM = """nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pred FROM pred),
nh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM pred JOIN truth ON truth.doc_a = pred.doc_a
                      AND truth.doc_b = pred.doc_b
)
SELECT n_true, n_pred, n_hit,
       CAST(CASE WHEN n_true > 0
            THEN 1000000 * n_hit // n_true END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_pred > 0
            THEN 1000000 * n_hit // n_pred END AS BIGINT)
         AS precision_ppm
FROM nt CROSS JOIN np CROSS JOIN nh
"""

#: 60-bit fingerprint: bit f set when frame f+1 holds more energy than f
_ENERGY_FP = """fp AS (
  SELECT e1.doc_id,
         CAST(COALESCE(SUM(CASE WHEN e2.e > e1.e
              THEN (1::BIGINT << e1.f::INT) ELSE 0 END), 0)
           AS BIGINT) AS fp
  FROM en e1 JOIN en e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
  WHERE e1.f < 60
  GROUP BY e1.doc_id
)"""

#: planted pairs: same content group and both base/variant (v in 0,1)
#: or the same variant
_PLANTED_PAIRS = """  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM src a JOIN src b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE (a.v IN (0, 1) AND b.v IN (0, 1)) OR a.v = b.v
"""


def _planted_labels(spark, sf_dir):
    """Both sides of the planted truth: every document's content group
    ``g`` and variant ``v``, once as ``doc_a/g_a/v_a`` and once as
    ``doc_b/g_b/v_b``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    lab = docs.select(
        "doc_id", (F.col("doc_id") % M.CONTENT_GROUPS).alias("g"),
        ((F.col("doc_id") / M.CONTENT_GROUPS).cast("bigint") % 3).alias("v"))
    a = lab.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"),
                   F.col("v").alias("v_a"))
    b = lab.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"),
                   F.col("v").alias("v_b"))
    return a, b


def _planted_pairs(spark, sf_dir):
    """Spark twin of ``_PLANTED_PAIRS``: ``(doc_a, doc_b)`` in the same
    content group, both base/variant or the same variant."""
    a, b = _planted_labels(spark, sf_dir)
    return (a.join(b, (F.col("g_a") == F.col("g_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
            .filter((F.col("v_a").isin(0, 1) & F.col("v_b").isin(0, 1))
                    | (F.col("v_a") == F.col("v_b")))
            .select("doc_a", "doc_b"))


def _recall_ppm(pred, truth):
    """Spark twin of ``_RECALL_PPM`` over two ``(doc_a, doc_b)`` pair
    sets."""
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    np_ = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
    nh = pred.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    # integer DIV on both engines — exact floor ppm, no float rounding
    # (the round(x/y) oracle sites are the sf10 drift watch class)
    return (nt.crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(nh))
            .select(
                "n_true", "n_pred", "n_hit",
                F.when(F.col("n_true") > 0,
                       F.expr("1000000 * n_hit DIV n_true"))
                .cast("bigint").alias("recall_ppm"),
                F.when(F.col("n_pred") > 0,
                       F.expr("1000000 * n_hit DIV n_pred"))
                .cast("bigint").alias("precision_ppm")))


@register("mm_bmp_parse", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 640 + 1 AS width,
         doc_id % 480 + 1 AS height
  FROM documents
), built AS (
  SELECT doc_id, width, height,
         from_hex(
           '424d' || '36000000' || '00000000' || '36000000' || '28000000'
           || lpad(to_hex(width % 256), 2, '0')
              || lpad(to_hex((width // 256) % 256), 2, '0') || '0000'
           || lpad(to_hex(height % 256), 2, '0')
              || lpad(to_hex((height // 256) % 256), 2, '0') || '0000'
           || '0100' || '1800' || repeat('00', 24)
         ) AS payload
  FROM src
), hx AS (
  SELECT doc_id, width, height, hex(payload) AS h, octet_length(payload) AS n
  FROM built
)
SELECT doc_id,
       n >= 54 AND substr(h, 1, 4) = '424D' AS is_bmp,
       CAST(('0x' || substr(h, 37, 2))::BIGINT
            + ('0x' || substr(h, 39, 2))::BIGINT * 256
            + ('0x' || substr(h, 41, 2))::BIGINT * 65536
            + ('0x' || substr(h, 43, 2))::BIGINT * 16777216 AS BIGINT)
         AS bmp_width,
       CAST(('0x' || substr(h, 45, 2))::BIGINT
            + ('0x' || substr(h, 47, 2))::BIGINT * 256
            + ('0x' || substr(h, 49, 2))::BIGINT * 65536
            + ('0x' || substr(h, 51, 2))::BIGINT * 16777216 AS BIGINT)
         AS bmp_height,
       CAST(('0x' || substr(h, 57, 2))::BIGINT
            + ('0x' || substr(h, 59, 2))::BIGINT * 256 AS BIGINT) AS bpp
FROM hx
""")
def mm_bmp_parse(spark, sf_dir):
    """REAL binary-format decode without codec libraries: build
    spec-conformant BMP headers, then parse magic/width/height/bpp
    back from the payload BYTES by little-endian offset arithmetic —
    upgrading the multimodal decode story from a labeled fake to an
    actual format parser, byte-for-byte oracled."""
    from ..operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_bmp(docs, "doc_id")
    return M.parse_bmp_metadata(built, "doc_id")


@register("mm_wav_parse", oracle="""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 16000
              WHEN doc_id % 3 = 1 THEN 22050
              ELSE 44100 END AS rate,
         doc_id % 2 + 1 AS ch
  FROM documents
), built AS (
  SELECT doc_id, rate, ch,
         from_hex(
           '52494646' || '24000000' || '57415645' || '666d7420'
           || '10000000' || '0100'
           || lpad(to_hex(ch % 256), 2, '0') || '00'
           || lpad(to_hex(rate % 256), 2, '0')
              || lpad(to_hex((rate // 256) % 256), 2, '0')
              || lpad(to_hex((rate // 65536) % 256), 2, '0') || '00'
           || lpad(to_hex((rate * ch * 2) % 256), 2, '0')
              || lpad(to_hex(((rate * ch * 2) // 256) % 256), 2, '0')
              || lpad(to_hex(((rate * ch * 2) // 65536) % 256), 2, '0') || '00'
           || lpad(to_hex((ch * 2) % 256), 2, '0') || '00'
           || '1000' || '64617461' || '00000000'
         ) AS payload
  FROM src
), hx AS (
  SELECT doc_id, hex(payload) AS h, octet_length(payload) AS n FROM built
)
SELECT doc_id,
       n >= 44 AND substr(h, 1, 8) = '52494646'
         AND substr(h, 17, 8) = '57415645' AS is_wav,
       CAST(('0x' || substr(h, 45, 2))::BIGINT
            + ('0x' || substr(h, 47, 2))::BIGINT * 256 AS BIGINT)
         AS wav_channels,
       CAST(('0x' || substr(h, 49, 2))::BIGINT
            + ('0x' || substr(h, 51, 2))::BIGINT * 256
            + ('0x' || substr(h, 53, 2))::BIGINT * 65536
            + ('0x' || substr(h, 55, 2))::BIGINT * 16777216 AS BIGINT)
         AS wav_sample_rate,
       CAST(('0x' || substr(h, 69, 2))::BIGINT
            + ('0x' || substr(h, 71, 2))::BIGINT * 256 AS BIGINT) AS wav_bps
FROM hx
""")
def mm_wav_parse(spark, sf_dir):
    """RIFF/WAV header decode (the audio twin of mm_bmp_parse):
    channels, sample rate, and bit depth parsed from real
    spec-conformant header bytes by offset arithmetic — zero codec
    libraries, byte-for-byte oracled."""
    from ..operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav(docs, "doc_id")
    return M.parse_wav_metadata(built, "doc_id")


@register("mm_png_parse", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 1024 + 1 AS width,
         doc_id % 768 + 1 AS height
  FROM documents
), built AS (
  SELECT doc_id,
         from_hex(
           '89504e470d0a1a0a' || '0000000d' || '49484452'
           || lpad(to_hex(width), 8, '0')
           || lpad(to_hex(height), 8, '0')
           || '08' || '06' || '000000' || '00000000'
         ) AS payload
  FROM src
), hx AS (
  SELECT doc_id, hex(payload) AS h, octet_length(payload) AS n FROM built
)
SELECT doc_id,
       n >= 33 AND substr(h, 1, 16) = '89504E470D0A1A0A'
         AND substr(h, 25, 8) = '49484452' AS is_png,
       ('0x' || substr(h, 33, 8))::BIGINT AS png_width,
       ('0x' || substr(h, 41, 8))::BIGINT AS png_height,
       ('0x' || substr(h, 49, 2))::BIGINT AS bit_depth,
       ('0x' || substr(h, 51, 2))::BIGINT AS color_type
FROM hx
""")
def mm_png_parse(spark, sf_dir):
    """PNG IHDR decode — the BIG-endian image twin of mm_bmp_parse
    (network-order width/height/depth/color-type), parsed from real
    signature+IHDR bytes with zero codec libraries; byte-for-byte
    oracled."""
    from ..operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_png(docs, "doc_id")
    return M.parse_png_metadata(built, "doc_id")


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
    return M.resize_images(load_table(spark, sf_dir, "documents"), "doc_id", "text")


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
    return M.sample_frames(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("mm_image_patch_plan", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 640 + 1 AS w,
         doc_id % 480 + 1 AS h
  FROM documents
)
SELECT doc_id,
       CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
       CAST((w + 15) // 16 AS BIGINT) AS patches_x,
       CAST((h + 15) // 16 AS BIGINT) AS patches_y,
       CAST(((w + 15) // 16) * ((h + 15) // 16) AS BIGINT) AS n_patches,
       CAST(((w + 15) // 16) * 16 - w AS BIGINT) AS pad_x,
       CAST(((h + 15) // 16) * 16 - h AS BIGINT) AS pad_y
FROM src
""")
def mm_image_patch_plan(spark, sf_dir):
    """ViT-style 16x16 patch-grid planning from REAL parsed BMP
    headers: synthesize a spec-conformant header per document, parse
    width/height back out of the payload bytes (the same zero-codec
    offset arithmetic as mm_bmp_parse), then derive the patch grid +
    right/bottom padding with pure integer math.  Map-only, no
    shuffle — the planning pass that sizes a vision-encoder batch
    before any pixel is decoded."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.synthesize_bmp(docs, "doc_id")
    parsed = M.parse_bmp_metadata(payload, "doc_id")
    px = F.expr("(bmp_width + 15) div 16")
    py = F.expr("(bmp_height + 15) div 16")
    return parsed.select(
        "doc_id",
        F.col("bmp_width").cast("bigint").alias("img_w"),
        F.col("bmp_height").cast("bigint").alias("img_h"),
        px.cast("bigint").alias("patches_x"),
        py.cast("bigint").alias("patches_y"),
        (px * py).cast("bigint").alias("n_patches"),
        (px * 16 - F.col("bmp_width")).cast("bigint").alias("pad_x"),
        (py * 16 - F.col("bmp_height")).cast("bigint").alias("pad_y"),
    )


@register("mm_audio_frame_plan", oracle="""
WITH src AS (
  SELECT doc_id, n_chars * 100 AS n_samples,
         CASE WHEN doc_id % 3 = 0 THEN 16000
              WHEN doc_id % 3 = 1 THEN 22050
              ELSE 44100 END AS sr,
         doc_id % 2 + 1 AS ch
  FROM documents
)
SELECT doc_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS channels,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(sr * 25 // 1000 AS BIGINT) AS win_len,
       CAST(sr * 10 // 1000 AS BIGINT) AS hop_len,
       CAST(CASE WHEN n_samples >= sr * 25 // 1000
                 THEN (n_samples - sr * 25 // 1000) // (sr * 10 // 1000) + 1
                 ELSE 0 END AS BIGINT) AS n_frames,
       CAST(n_samples * 1000 // sr AS BIGINT) AS duration_ms
FROM src
""")
def mm_audio_frame_plan(spark, sf_dir):
    """STFT frame planning (25 ms window / 10 ms hop) from REAL parsed
    WAV headers: sample rate and channels come out of the RIFF payload
    bytes (same parse as mm_wav_parse); sample count is the
    deterministic stub n_chars*100 (no codec in the sandbox — the
    label says so).  All integer division, map-only — the pass that
    sizes an audio-feature batch before decoding a single sample."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.synthesize_wav(docs, "doc_id").select("doc_id", "payload")
    parsed = M.parse_wav_metadata(payload, "doc_id").join(
        docs.select("doc_id", (F.col("n_chars") * 100).alias("n_samples")),
        "doc_id",
    )
    sr = F.col("wav_sample_rate")
    win = F.expr("wav_sample_rate * 25 div 1000")
    hop = F.expr("wav_sample_rate * 10 div 1000")
    return parsed.select(
        "doc_id",
        sr.cast("bigint").alias("sample_rate"),
        F.col("wav_channels").cast("bigint").alias("channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        win.cast("bigint").alias("win_len"),
        hop.cast("bigint").alias("hop_len"),
        F.when(F.col("n_samples") >= win,
               F.expr("(n_samples - wav_sample_rate * 25 div 1000) "
                      "div (wav_sample_rate * 10 div 1000) + 1"))
        .otherwise(F.lit(0)).cast("bigint").alias("n_frames"),
        F.expr("n_samples * 1000 div wav_sample_rate")
        .cast("bigint").alias("duration_ms"),
    )


_PCM_N = 64


# fixture + int16 decode CTEs, shared with the mm_pcm_zero_crossings twin
_WAV_PCM_BASE = f"""
WITH src AS (
  SELECT doc_id FROM documents
), hx AS (
  SELECT doc_id,
         '52494646' || lpad(to_hex((36 + {_PCM_N} * 2) % 256), 2, '0')
           || lpad(to_hex(((36 + {_PCM_N} * 2) // 256) % 256), 2, '0')
           || '0000'
         || '57415645' || '666d7420' || '10000000' || '0100' || '0100'
         || '803e0000' || '007d0000' || '0200' || '1000' || '64617461'
         || lpad(to_hex(({_PCM_N} * 2) % 256), 2, '0')
           || lpad(to_hex((({_PCM_N} * 2) // 256) % 256), 2, '0') || '0000'
         || array_to_string(
              list_transform(range(0, {_PCM_N}), i ->
                lpad(to_hex(((doc_id * 31 + i * 17) % 65536 + 32768)
                            % 65536 % 256), 2, '0')
                || lpad(to_hex((((doc_id * 31 + i * 17) % 65536 + 32768)
                               % 65536) // 256), 2, '0')), '')
           AS h
  FROM src
), parsed AS (
  SELECT doc_id,
         (('0x' || substr(h, 81, 2))::BIGINT
          + ('0x' || substr(h, 83, 2))::BIGINT * 256
          + ('0x' || substr(h, 85, 2))::BIGINT * 65536
          + ('0x' || substr(h, 87, 2))::BIGINT * 16777216) // 2
           AS n_samples,
         h
  FROM hx
), s AS (
  SELECT doc_id, n_samples,
         list_transform(range(0, CAST(n_samples AS INT)), i ->
           (('0x' || substr(h, 89 + 4 * i, 2))::BIGINT
            + 256 * ('0x' || substr(h, 91 + 4 * i, 2))::BIGINT)
           - CASE WHEN ('0x' || substr(h, 89 + 4 * i, 2))::BIGINT
                       + 256 * ('0x' || substr(h, 91 + 4 * i, 2))::BIGINT
                       >= 32768 THEN 65536 ELSE 0 END) AS sm
  FROM parsed
)
"""


_WAV_PCM_ORACLE = _WAV_PCM_BASE + """
SELECT doc_id,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(list_sum(sm) AS BIGINT) AS sum_samples,
       CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT)
         AS sum_squares,
       CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT)
         AS peak_abs
FROM s
"""


@register("mm_wav_pcm_stats", oracle=_WAV_PCM_ORACLE)
def mm_wav_pcm_stats(spark, sf_dir):
    """Byte-level audio DSP with zero codec libraries: spec-conformant
    PCM16 WAV payloads (header + 64 deterministic samples, packed
    little-endian) decoded straight from the bytes — sample count from
    the declared data size, DC sum, energy (Σs²), and peak |amplitude|
    as exact BIGINTs (operators/multimodal.py synthesize_wav_pcm /
    pcm_stats).  Map-only; the oracle builds and parses the identical
    hex image."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_stats(built, "doc_id")


_SILENCE_ORACLE = (
    _WAV_PCM_ORACLE[:_WAV_PCM_ORACLE.rindex("SELECT doc_id,")]
    + f""", pos AS (
  SELECT doc_id, n_samples,
         unnest(list_transform(generate_series(1, CAST(n_samples AS INT)),
                i -> {{'i': i, 'v': sm[i]}})) AS u
  FROM s
), f AS (
  SELECT doc_id, n_samples, u.i AS i,
         CASE WHEN abs(u.v) < 4096 THEN 1 ELSE 0 END AS sil
  FROM pos
), r AS (
  SELECT doc_id, n_samples, i, sil,
         CASE WHEN sil = 1 AND COALESCE(LAG(sil) OVER
           (PARTITION BY doc_id ORDER BY i), 0) = 0
           THEN 1 ELSE 0 END AS new_run
  FROM f
), runs AS (
  SELECT doc_id, i, sil,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM r
), runlen AS (
  SELECT doc_id, run_id, CAST(COUNT(*) AS BIGINT) AS len
  FROM runs WHERE sil = 1 GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(MAX(len) AS BIGINT) AS longest_run
  FROM runlen GROUP BY 1
), sil_tot AS (
  SELECT doc_id, CAST(SUM(sil) AS BIGINT) AS n_silent FROM f GROUP BY 1
)
SELECT s.doc_id, CAST(s.n_samples AS BIGINT) AS n_samples,
       COALESCE(sil_tot.n_silent, 0) AS n_silent,
       COALESCE(per_doc.n_runs, 0) AS n_runs,
       COALESCE(per_doc.longest_run, 0) AS longest_run
FROM s
LEFT JOIN sil_tot ON sil_tot.doc_id = s.doc_id
LEFT JOIN per_doc ON per_doc.doc_id = s.doc_id
"""
)


@register("mm_pcm_silence_runs", oracle=_SILENCE_ORACLE)
def mm_pcm_silence_runs(spark, sf_dir):
    """Voice-activity segmentation minus the codec
    (operators/multimodal.py pcm_silence_runs): silent-sample
    run-length statistics (|v| < 4096) decoded straight from the
    synthesized WAV bytes.  The Spark side is one map-only
    ``aggregate`` fold carrying 4 integers of state per row; the SQL
    twin replays the runs with document-partitioned windows over the
    unnested samples — different plans, identical integers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_silence_runs(built, "doc_id")


@register("mm_gif_parse", oracle="""
WITH src AS (
  SELECT doc_id,
         doc_id % 800 + 1 AS width,
         doc_id % 600 + 1 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS gflag,
         doc_id % 8 AS gexp
  FROM documents
), hx AS (
  SELECT doc_id,
         '474946'
         || CASE WHEN doc_id % 2 = 0 THEN '383961' ELSE '383761' END
         || lpad(to_hex(width % 256), 2, '0')
           || lpad(to_hex((width // 256) % 256), 2, '0')
         || lpad(to_hex(height % 256), 2, '0')
           || lpad(to_hex((height // 256) % 256), 2, '0')
         || lpad(to_hex(gflag * 128 + 112 + gexp), 2, '0')
         || '00' || '00' AS h
  FROM src
)
SELECT doc_id,
       len(h) // 2 >= 13 AND substr(h, 1, 6) = '474946'
         AND substr(h, 7, 6) IN ('383761', '383961') AS is_gif,
       CASE substr(h, 7, 6) WHEN '383961' THEN '89a' ELSE '87a' END
         AS gif_version,
       CAST(('0x' || substr(h, 13, 2))::BIGINT
            + ('0x' || substr(h, 15, 2))::BIGINT * 256 AS BIGINT)
         AS gif_width,
       CAST(('0x' || substr(h, 17, 2))::BIGINT
            + ('0x' || substr(h, 19, 2))::BIGINT * 256 AS BIGINT)
         AS gif_height,
       CAST(('0x' || substr(h, 21, 2))::BIGINT // 128 AS BIGINT)
         AS has_gct,
       CAST(2 ** ((('0x' || substr(h, 21, 2))::BIGINT % 8) + 1)
            AS BIGINT) AS gct_colors
FROM hx
""")
def mm_gif_parse(spark, sf_dir):
    """GIF87a/89a header round-trip (operators/multimodal.py
    synthesize_gif / parse_gif_metadata): spec-conformant 13-byte
    signatures + logical screen descriptors built per document, then
    decoded back — u16-LE dimensions plus the BIT-PACKED flags byte
    (GCT flag = byte div 128, GCT size = 2^((byte mod 8)+1)), the
    first bit-field parse in the multimodal suite.  Pure codegen,
    map-only; the oracle builds and parses the identical hex image."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_gif(docs, "doc_id")
    return M.parse_gif_metadata(built, "doc_id")


@register("mm_pcm_zero_crossings", oracle=_WAV_PCM_BASE + f"""
SELECT doc_id,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(len(list_filter(range(1, CAST(n_samples AS INT)),
                            i -> sm[i] * sm[i + 1] < 0)) AS BIGINT)
         AS zero_crossings,
       CAST(len(list_filter(sm, v -> v = 0)) AS BIGINT)
         AS n_zero_samples,
       CAST({_rdiv_sql(
           "1000000 * len(list_filter(range(1, CAST(n_samples AS INT)), "
           "i -> sm[i] * sm[i + 1] < 0))",
           "n_samples - 1")} AS BIGINT) AS zcr_ppm
FROM s
""")
def mm_pcm_zero_crossings(spark, sf_dir):
    """Zero-crossing rate over the PCM16 WAV fixture
    (operators/multimodal.py pcm_zero_crossings): adjacent-sample
    sign flips + exact-zero counts decoded straight from the bytes —
    the classic O(1)-state voiced/unvoiced front-end of audio
    curation.  Array-first int16 decode (shared with
    mm_wav_pcm_stats), pair scan as a filter over positions, rate in
    rounded ppm so everything stays integer-exact.  Map-only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    built = M.synthesize_wav_pcm(docs, "doc_id", n_samples=_PCM_N)
    return M.pcm_zero_crossings(built, "doc_id")


_J_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"


_J_U16 = lambda off: f"({_J_U8(off)} * 256 + {_J_U8(f'({off}) + 1')})"


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


_M_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"


_M_U16 = lambda off: f"({_M_U8(off)} * 256 + {_M_U8(f'({off}) + 1')})"


_M_U32 = lambda off: f"({_M_U16(off)} * 65536 + {_M_U16(f'({off}) + 2')})"


def _mp4_be4(x: str) -> str:
    """DuckDB hex of a u32 big-endian."""
    return (f"lpad(to_hex((({x}) // 16777216) % 256), 2, '0') || "
            f"lpad(to_hex((({x}) // 65536) % 256), 2, '0') || "
            f"lpad(to_hex((({x}) // 256) % 256), 2, '0') || "
            f"lpad(to_hex(({x}) % 256), 2, '0')")


def _mp4_walk_ctes() -> str:
    tops = [
        "t0 AS (SELECT doc_id, h, CAST(1 AS BIGINT) AS o FROM hx)"]
    for k in range(M._MP4_TOP_STEPS):
        tops.append(
            f"t{k + 1} AS (SELECT doc_id, h, "
            f"CASE WHEN {_M_U32('(o) + 4')} = {M._MP4_MOOV} THEN o "
            f"ELSE o + {_M_U32('o')} END AS o FROM t{k})")
    kids = [
        f"c0 AS (SELECT doc_id, h, o, o + 8 AS c "
        f"FROM t{M._MP4_TOP_STEPS})"]
    for k in range(M._MP4_CHILD_STEPS):
        kids.append(
            f"c{k + 1} AS (SELECT doc_id, h, o, "
            f"CASE WHEN {_M_U32('(c) + 4')} = {M._MP4_MVHD} THEN c "
            f"ELSE c + {_M_U32('c')} END AS c FROM c{k})")
    return ",\n".join(tops + kids)


_MP4_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         (doc_id % 4 + 1) * 600 AS tscale,
         doc_id % 100000 + 1000 AS dur,
         doc_id % 3 AS n_compat,
         doc_id % 2 = 0 AS has_free,
         doc_id % 16 AS free_len,
         doc_id % 5 < 2 AS has_udta,
         doc_id % 11 AS udta_len
  FROM documents
), hx AS (
  SELECT doc_id,
         {_mp4_be4("16 + 4 * n_compat")} || '66747970'
         || CASE doc_id % 3 WHEN 0 THEN '69736f6d'
              WHEN 1 THEN '6d703432' ELSE '61766331' END
         || '00000200' || repeat('69736f6d', n_compat)
         || CASE WHEN has_free THEN
              {_mp4_be4("free_len + 8")} || '66726565'
              || repeat('00', free_len) ELSE '' END
         || {_mp4_be4("8 + CASE WHEN has_udta THEN udta_len + 8 "
                      "ELSE 0 END + 108")} || '6d6f6f76'
         || CASE WHEN has_udta THEN
              {_mp4_be4("udta_len + 8")} || '75647461'
              || repeat('00', udta_len) ELSE '' END
         || '0000006c' || '6d766864' || '00000000'
         || '00000000' || '00000000'
         || {_mp4_be4("tscale")} || {_mp4_be4("dur")}
         || '00010000' || '0100' || repeat('00', 10)
         || '00010000' || '00000000' || '00000000'
         || '00000000' || '00010000' || '00000000'
         || '00000000' || '00000000' || '40000000'
         || repeat('00', 24) || '00000002'
         || {_mp4_be4("doc_id % 9 + 8")} || '6d646174'
         || repeat('00', doc_id % 9) AS h
  FROM src
),
{_mp4_walk_ctes()}
SELECT doc_id,
       len(h) // 2 >= 12 AND {_M_U32('5')} = {M._MP4_FTYP}
         AND {_M_U32('(o) + 4')} = {M._MP4_MOOV}
         AND {_M_U32('(c) + 4')} = {M._MP4_MVHD} AS is_mp4,
       CAST({_M_U32('9')} AS BIGINT) AS major_brand_u32,
       CAST({_M_U32('(c) + 20')} AS BIGINT) AS timescale,
       CAST({_M_U32('(c) + 24')} AS BIGINT) AS duration,
       CAST({_rdiv_sql(f"1000 * {_M_U32('(c) + 24')}",
                       _M_U32('(c) + 20'))} AS BIGINT) AS duration_ms
FROM c{M._MP4_CHILD_STEPS}
"""


@register("mm_mp4_box_parse", oracle=_MP4_ORACLE)
def mm_mp4_box_parse(spark, sf_dir):
    """MP4 (ISO-BMFF) movie-header round-trip
    (operators/multimodal.py synthesize_mp4 / parse_mp4_metadata):
    minimal ftyp/free/moov(udta,mvhd)/mdat streams with
    DATA-DEPENDENT box sizes at BOTH nesting levels, decoded by a
    TWO-LEVEL box walk — the container-format step up from the JPEG
    segment chain (one level, u16 sizes) to the video-file layout
    (nested, u32 sizes) a multimodal training pipeline meets first
    when indexing raw video blobs.  Box types compare as u32 numbers
    so the hex-case difference between engines can't bite.  Map-only;
    the oracle builds and walks the identical stream."""
    # repartition BEFORE the per-clip synth+walk (the lesson of
    # mm_audio_fingerprint_dedup, applied back to the parse-only query): the sf fixture is one
    # parquet split -> one input task, serializing the CPU-bound
    # two-level walk; a real video corpus gets this parallelism from
    # its file splits
    docs = spread_input(load_table(spark, sf_dir, "documents").select("doc_id"))
    built = M.synthesize_mp4(docs, "doc_id")
    return M.parse_mp4_metadata(built, "doc_id")


_SRT_PARSE_SQL = ("(CAST(substr({t}, 1, 2) AS BIGINT) * 3600000 "
                  "+ CAST(substr({t}, 4, 2) AS BIGINT) * 60000 "
                  "+ CAST(substr({t}, 7, 2) AS BIGINT) * 1000 "
                  "+ CAST(substr({t}, 10, 3) AS BIGINT))")


# --------------------------------------------------------------------------
# mm_subtitle_align — SRT cue parsing + per-doc range join
# --------------------------------------------------------------------------
def _srt_sql(ms: str) -> str:
    """DuckDB: format milliseconds as the SRT 'HH:MM:SS,mmm' string."""
    return (f"lpad(CAST(({ms}) // 3600000 AS VARCHAR), 2, '0') || ':' || "
            f"lpad(CAST((({ms}) // 60000) % 60 AS VARCHAR), 2, '0') || ':' || "
            f"lpad(CAST((({ms}) // 1000) % 60 AS VARCHAR), 2, '0') || ',' || "
            f"lpad(CAST(({ms}) % 1000 AS VARCHAR), 3, '0')")


@register("mm_subtitle_align", oracle=f"""
WITH cues AS (
  SELECT doc_id,
         {_srt_sql("k * 2000 + doc_id % 500")} AS t_start,
         {_srt_sql("k * 2000 + doc_id % 500 + 1500")} AS t_end
  FROM documents, UNNEST(generate_series(0, doc_id % 4)) AS u(k)
), parsed AS (
  SELECT doc_id,
         {_SRT_PARSE_SQL.format(t="t_start")} AS start_ms,
         {_SRT_PARSE_SQL.format(t="t_end")} AS end_ms
  FROM cues
), frames AS (
  SELECT doc_id, j * 900 + doc_id % 300 AS ts_ms
  FROM documents, UNNEST(generate_series(0, doc_id % 6 + 1)) AS u(j)
), joined AS (
  SELECT f.doc_id, f.ts_ms, p.start_ms
  FROM frames f LEFT JOIN parsed p
    ON p.doc_id = f.doc_id
   AND f.ts_ms >= p.start_ms AND f.ts_ms < p.end_ms
)
SELECT doc_id,
       CAST((SELECT doc_id % 4 + 1) AS BIGINT) AS n_cues,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(start_ms) AS BIGINT) AS n_matched,
       CAST(COUNT(*) - COUNT(start_ms) AS BIGINT) AS n_orphaned
FROM joined GROUP BY doc_id
""")
def mm_subtitle_align(spark, sf_dir):
    """Subtitle-to-frame alignment — the multimodal pairing step that
    turns (video frames, SRT captions) into supervised pairs: SRT cue
    times are BUILT as 'HH:MM:SS,mmm' strings, PARSED back to
    milliseconds by fixed-position substring arithmetic (the format
    round trip is the operator under test), then sampled frame
    timestamps range-join to cues WITHIN THE SAME doc — the join is
    doc-keyed first, so the range predicate only ever scans one
    clip's cues (bounded per key; at 100 TB the classic mistake is a
    global time-range join across clips).  Frames in inter-cue gaps
    come out orphaned via the left join."""
    # repartition before the per-doc cue build (one-split fixture ->
    # one task; real corpora parallelize via file splits)
    docs = spread_input(load_table(spark, sf_dir, "documents").select("doc_id"),
                        F.col("doc_id"))
    did = F.col("doc_id")

    def srt(ms):
        return F.concat(
            F.lpad((ms / 3600000).cast("bigint").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((ms / 60000).cast("bigint") % 60).cast("string"),
                   2, "0"),
            F.lit(":"),
            F.lpad(((ms / 1000).cast("bigint") % 60).cast("string"),
                   2, "0"),
            F.lit(","),
            F.lpad((ms % 1000).cast("string"), 3, "0"),
        )

    cues = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (did % 4).cast("int"))).alias("k"),
    ).select(
        "doc_id",
        srt(F.col("k") * 2000 + did % 500).alias("t_start"),
        srt(F.col("k") * 2000 + did % 500 + 1500).alias("t_end"),
    )

    def parse(t):
        return (F.substring(t, 1, 2).cast("bigint") * 3600000
                + F.substring(t, 4, 2).cast("bigint") * 60000
                + F.substring(t, 7, 2).cast("bigint") * 1000
                + F.substring(t, 10, 3).cast("bigint"))

    # both sides descend from the same docs scan — rename the cue
    # side's key so the equi-join can never resolve to a trivially
    # true self-comparison
    parsed = cues.select(
        F.col("doc_id").alias("cue_doc"),
        parse(F.col("t_start")).alias("start_ms"),
        parse(F.col("t_end")).alias("end_ms"))
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (did % 6 + 1).cast("int")))
        .alias("j"),
    ).select("doc_id", (F.col("j") * 900 + did % 300).alias("ts_ms"))
    joined = frames.join(
        parsed,
        (F.col("doc_id") == F.col("cue_doc"))
        & (F.col("ts_ms") >= F.col("start_ms"))
        & (F.col("ts_ms") < F.col("end_ms")),
        "left").select("doc_id", "ts_ms", "start_ms")
    return joined.groupBy("doc_id").agg(
        (F.first(F.col("doc_id")) % 4 + 1).cast("bigint").alias("n_cues"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.count("start_ms").cast("bigint").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("start_ms")).cast("bigint")
        .alias("n_orphaned"),
    )


# --------------------------------------------------------------------------
# mm_id3_tag_parse — ID3v2.4 header + frame walk with SYNCSAFE sizes
# --------------------------------------------------------------------------
_ID3_MAGIC = 4801587       # u24('ID3')


_ID3_WALK_STEPS = 4        # <= 3 frames + 1 slack


_I_U8 = lambda off: f"('0x' || substr(h, ({off}) * 2 - 1, 2))::BIGINT"


_I_SS4 = lambda off: (f"({_I_U8(off)} * 2097152 + "
                      f"{_I_U8(f'({off}) + 1')} * 16384 + "
                      f"{_I_U8(f'({off}) + 2')} * 128 + "
                      f"{_I_U8(f'({off}) + 3')})")


_I_U32 = lambda off: (f"({_I_U8(off)} * 16777216 + "
                      f"{_I_U8(f'({off}) + 1')} * 65536 + "
                      f"{_I_U8(f'({off}) + 2')} * 256 + "
                      f"{_I_U8(f'({off}) + 3')})")


_TALB = 1413565506


_TIT2 = 1414091826


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


def _ss4_sql(x: str) -> str:
    """DuckDB hex of a u28 as 4 SYNCSAFE bytes (7 bits each)."""
    return (f"lpad(to_hex((({x}) // 2097152) % 128), 2, '0') || "
            f"lpad(to_hex((({x}) // 16384) % 128), 2, '0') || "
            f"lpad(to_hex((({x}) // 128) % 128), 2, '0') || "
            f"lpad(to_hex(({x}) % 128), 2, '0')")


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


def _phash_fingerprints(spark, sf_dir):
    """(doc, fp) aHash fingerprint table over the synthesized BMP
    corpus — shared by both queries, the stratum self-check script
    (scripts/phash_stratum_check.py), and the pinned exactness test.

    Materialized (localCheckpoint) before any self-join: with the
    synth+decode expression tree left in the lineage, join planning
    re-derives the whole byte pipeline on both sides (153 s for 500
    rows); cut, it's 1.5 s.  Unlike the text simhash (whose
    fingerprints come out of a groupBy, a natural materialization
    point), this pipeline is map-only end to end, so the cut must be
    explicit.

    Repartitioned BEFORE the per-image decode (the round-15 lesson
    from the audio twin): the sf fixtures are one small parquet file
    -> one input split, which serializes the CPU-bound decode+hash on
    a single task; a real image corpus gets the parallelism from its
    file splits — the explicit repartition stands in for that."""
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id"))
    imgs = M.synthesize_bmp_pixels(docs, "doc_id")
    fps = M.bmp_ahash(imgs, "doc_id")
    return (fps.filter(F.col("is_bmp"))
            .select(F.col("doc_id").alias("doc"),
                    F.col("ahash").alias("fp"))
            .localCheckpoint(eager=True))


@register("mm_phash_dedup", oracle="""
WITH src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), px AS (
  SELECT doc_id, i.i AS i,
         (g*37 + i.i*29) % 160 + 40
         + CASE WHEN (v = 1 AND i.i = 0) OR (v = 2 AND i.i < 4)
                THEN 56 ELSE 0 END AS luma
  FROM src, (SELECT unnest(generate_series(0, 63)) AS i) i
), built AS (
  SELECT doc_id, from_hex(
    '424d' || 'f6000000' || '00000000' || '36000000' || '28000000'
    || '08000000' || '08000000' || '0100' || '1800' || repeat('00', 24)
    || string_agg(repeat(lpad(to_hex(luma), 2, '0'), 3), '' ORDER BY i)
  ) AS payload
  FROM px GROUP BY doc_id
), hx AS (
  SELECT doc_id, hex(payload) AS h, octet_length(payload) AS n
  FROM built
), lum AS (
  SELECT doc_id, i.i AS i,
         ('0x' || substr(h, (54 + 3*i.i)*2 + 1, 2))::BIGINT AS luma
  FROM hx, (SELECT unnest(generate_series(0, 63)) AS i) i
  WHERE n >= 246 AND substr(h, 1, 4) = '424D'
), tot AS (
  SELECT doc_id, SUM(luma) AS total FROM lum GROUP BY 1
), fp AS (
  SELECT lum.doc_id,
         CAST(SUM(CASE WHEN lum.i < 60 AND lum.luma * 64 > tot.total
                       THEN (1::BIGINT << lum.i) ELSE 0 END)
              AS BIGINT) AS ahash
  FROM lum JOIN tot ON tot.doc_id = lum.doc_id
  GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
""")
def mm_phash_dedup(spark, sf_dir):
    """Image near-dup pairs by perceptual average-hash (Hamming <= 2)
    over real 8x8 BMP payloads: synthesize -> byte-decode -> integer
    aHash -> exact pigeonhole band join.  The content-group fixture
    plants exact duplicates (identical ahash) and single-pixel
    retouches (Hamming 1-2); heavier 4-pixel edits fall outside the
    radius and must NOT pair — the oracle brute-forces the full pair
    space to grade exactly that cut.

    No codec library: the aHash bit is the scale-free integer compare
    ``64*luma > sum(lumas)`` (no float mean, no division), and the
    oracle rebuilds the same BMP bytes with from_hex/string_agg and
    re-parses them, so encode, decode, hash and radius are all value-
    graded.  At 100 TB real image bytes replace the synthesis; decode
    and hash stay map-only per image, fingerprints are 8 bytes per
    image, and band-key collisions bound the candidates, the scaling
    contract of dedup_simhash."""
    fps = _phash_fingerprints(spark, sf_dir)
    return D.hamming_band_pairs(fps, bits=60, max_hamming=2,
                                by_value=True)


_PHASH_FP_CTE = """
src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), px AS (
  SELECT doc_id, i.i AS i,
         (g*37 + i.i*29) % 160 + 40
         + CASE WHEN (v = 1 AND i.i = 0) OR (v = 2 AND i.i < 4)
                THEN 56 ELSE 0 END AS luma
  FROM src, (SELECT unnest(generate_series(0, 63)) AS i) i
), tot AS (
  SELECT doc_id, SUM(luma) AS total FROM px GROUP BY 1
), fp AS (
  SELECT px.doc_id,
         CAST(SUM(CASE WHEN px.i < 60 AND px.luma * 64 > tot.total
                       THEN (1::BIGINT << px.i) ELSE 0 END)
              AS BIGINT) AS ahash
  FROM px JOIN tot ON tot.doc_id = px.doc_id
  GROUP BY 1
)"""


@register("mm_phash_recall_audit", oracle=f"""
WITH {_PHASH_FP_CTE},
pred AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
), truth AS (
  -- planted ground truth: same content group, and either both sides
  -- are the base/retouch variants (v in 0,1) or the same variant
  -- (identical bytes)
{_PLANTED_PAIRS}), {_RECALL_PPM}""")
def mm_phash_recall_audit(spark, sf_dir):
    """Measured perceptual-hash quality against planted ground truth:
    the Hamming<=2 pair set (the exact band join) versus the fixture's
    known duplicate structure (same content group, base/retouch
    variants or identical bytes) — recall and precision in floor ppm.
    The audit one runs before trusting a perceptual-hash radius on a
    real image corpus: aHash flips bits when a retouch crosses the
    brightness mean, so recall < 1 at any fixed radius, and the
    measured number (not the assumption) is what sets the radius /
    verify budget at 100 TB.  Same family as dedup_lsh_recall_audit /
    ann_*_recall_audit: the compression trade is graded, never
    presumed.  Truth side is formula-bounded (group-sized join, never
    the image pair space); predicted side is the banded join."""
    fps = _phash_fingerprints(spark, sf_dir)
    pred = D.hamming_band_pairs(fps, bits=60, max_hamming=2,
                                by_value=True) \
        .select("doc_a", "doc_b")
    return _recall_ppm(pred, _planted_pairs(spark, sf_dir))


# 44-byte PCM WAV header for 122 mono 16-bit samples at 16 kHz
# (RIFF size 280, fmt chunk 16, PCM=1, ch=1, rate 16000, byte rate
# 32000, block align 2, bits 16, data size 244) — matches
# synthesize_wav_pcm_groups byte for byte
_WAV_HDR = ("52494646" "18010000" "57415645" "666d7420" "10000000"
            "0100" "0100" "803e0000" "007d0000" "0200" "1000"
            "64617461" "f4000000")


def _audio_fingerprints(spark, sf_dir):
    """(doc, fp) energy-difference fingerprint table over the
    synthesized WAV corpus — shared by both queries, the sf1 stratum
    self-check, and the pinned exactness test.

    Materialized (localCheckpoint) before any self-join: the
    synth+decode expression tree left in the lineage would be
    re-derived on both sides of the band join (the mm_phash_dedup lesson:
    153 s for 500 rows uncut, 1.5 s cut).

    Repartitioned BEFORE the per-clip decode: the sf fixtures are one
    small parquet file -> one input split, and the hex-offset decode
    is the CPU cost the query measures (~2 ms/clip) — on one task it
    serializes (10.6 s for 5k clips; ~1.5 s spread over the cores).
    A real audio corpus gets this parallelism from its file splits;
    the explicit repartition stands in for exactly that."""
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id"))
    wav = M.synthesize_wav_pcm_groups(docs, "doc_id")
    fps = M.pcm_energy_diff_fingerprint(wav, "doc_id")
    return (fps.select(F.col("doc_id").alias("doc"), "fp")
            .localCheckpoint(eager=True))


@register("mm_audio_fingerprint_dedup", oracle=f"""
WITH src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), smp AS (
  SELECT doc_id, i.i AS i,
         (('0x' || substr(md5(g::VARCHAR || '_' || i.i::VARCHAR),
                          1, 4))::BIGINT % 160 - 80
          + CASE WHEN v = 1 AND i.i IN (14, 15) THEN 40
                 WHEN v = 2 AND i.i IN (40, 41, 60, 61, 80, 81,
                                        100, 101) THEN 40
                 ELSE 0 END + 65536) % 65536 AS u16
  FROM src, (SELECT unnest(generate_series(0, 121)) AS i) i
), built AS (
  SELECT doc_id, from_hex('{_WAV_HDR}' || string_agg(
      lpad(to_hex(u16 % 256), 2, '0')
      || lpad(to_hex(u16 // 256), 2, '0'), '' ORDER BY i)) AS payload
  FROM smp GROUP BY doc_id
), hx AS (
  SELECT doc_id, hex(payload) AS h,
         (('0x' || substr(hex(payload), 81, 2))::BIGINT
          + 256 * ('0x' || substr(hex(payload), 83, 2))::BIGINT
          + 65536 * ('0x' || substr(hex(payload), 85, 2))::BIGINT
          + 16777216 * ('0x' || substr(hex(payload), 87, 2))::BIGINT)
         // 2 AS n_samples
  FROM built
), dsmp AS (
  SELECT doc_id, i.i AS i,
         ('0x' || substr(h, 89 + 4*i.i, 2))::BIGINT
         + 256 * ('0x' || substr(h, 91 + 4*i.i, 2))::BIGINT AS su
  FROM hx, (SELECT unnest(generate_series(0, 121)) AS i) i
  WHERE n_samples >= 122
), sgn AS (
  SELECT doc_id, i,
         su - CASE WHEN su >= 32768 THEN 65536 ELSE 0 END AS s
  FROM dsmp
), en AS (
  SELECT doc_id, i // 2 AS f, SUM(s * s) AS e
  FROM sgn GROUP BY doc_id, i // 2
), {_ENERGY_FP}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 2
""")
def mm_audio_fingerprint_dedup(spark, sf_dir):
    """Audio near-dup pairs by energy-difference fingerprint
    (Hamming <= 2) over real WAV payloads: synthesize -> byte-decode
    -> integer frame energies -> 60-bit sign fingerprint -> exact
    pigeonhole band join.  The content-group fixture plants exact
    duplicates (identical bytes), one-frame re-encode wobbles
    (Hamming <= 2 — often 0, when the wobble doesn't reorder the two
    energies it touches), and four-frame edits that leave the radius
    for ~half the groups and must pair exactly when they don't — the
    oracle rebuilds the bytes and brute-forces the full pair space to
    grade exactly that cut.

    The fingerprint is the sign-of-energy-difference design of Haitsma
    & Kalker ("A Highly Robust Audio Fingerprint System", ISMIR 2002)
    minus the filterbank: bit b is 1 iff frame b+1 carries more energy
    than frame b, so amplitude wobble that does not reorder
    neighbouring frame energies leaves it unchanged.  At 100 TB real
    audio bytes replace the synthesis and the same scaling contract as
    mm_phash_dedup holds."""
    fps = _audio_fingerprints(spark, sf_dir)
    return D.hamming_band_pairs(fps, bits=60, max_hamming=2)


# formula-direct fingerprint (no byte rebuild) for the audit oracle —
# the dedup oracle above already grades byte-encode/decode parity
_AUDIO_FP_CTE = """
src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), smp AS (
  SELECT doc_id, i.i AS i,
         ('0x' || substr(md5(g::VARCHAR || '_' || i.i::VARCHAR),
                         1, 4))::BIGINT % 160 - 80
         + CASE WHEN v = 1 AND i.i IN (14, 15) THEN 40
                WHEN v = 2 AND i.i IN (40, 41, 60, 61, 80, 81,
                                       100, 101) THEN 40
                ELSE 0 END AS s
  FROM src, (SELECT unnest(generate_series(0, 121)) AS i) i
), en AS (
  SELECT doc_id, i // 2 AS f, SUM(s * s) AS e
  FROM smp GROUP BY doc_id, i // 2
), """ + _ENERGY_FP


@register("mm_audio_fp_recall_audit", oracle=f"""
WITH {_AUDIO_FP_CTE},
pred AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 2
), truth AS (
  -- planted ground truth: same content group, and either both sides
  -- are the master/wobble variants (v in 0,1) or the same variant
  -- (identical bytes)
{_PLANTED_PAIRS}), {_RECALL_PPM}""")
def mm_audio_fp_recall_audit(spark, sf_dir):
    """Measured audio-fingerprint quality against planted ground
    truth: the Hamming<=2 pair set (the exact band join) versus the
    fixture's known duplicate structure (same content group,
    master/wobble variants or identical bytes) — recall and precision
    in floor ppm.  The energy-difference fingerprint is robust by
    construction (recall hits 1 on this fixture: the wobble rarely
    reorders both touched comparisons), but precision < 1 — sparse
    60-bit sign patterns collide across groups at small radii — and
    the measured number (not the assumption) is what sets the radius
    / verify budget for a real audio corpus.  Same family as
    mm_phash_recall_audit / dedup_lsh_recall_audit: the compression
    trade is graded, never presumed.  Truth side is formula-bounded
    (group-sized join, never the clip pair space); predicted side is
    the banded join."""
    fps = _audio_fingerprints(spark, sf_dir)
    pred = D.hamming_band_pairs(fps, bits=60, max_hamming=2) \
        .select("doc_a", "doc_b")
    return _recall_ppm(pred, _planted_pairs(spark, sf_dir))


_N_FRAMES = 4


# luma + payload-hex reconstruction shared by both oracles: the byte
# image DuckDB builds is INDEPENDENT of Spark's (lpad/to_hex/
# string_agg vs Column concat), and the read side pulls lumas back out
# of that hex image at the formula-derived mdat offset — so a Spark
# synth/walk bug that lands frames at the wrong byte cannot cancel
# out (the mm_phash_dedup grading discipline)
_VIDEO_FP_CTE = """
src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), gv AS (
  SELECT DISTINCT g, v FROM src
), px AS (
  SELECT g, v, f.f AS f, i.i AS i,
         ('0x' || substr(md5(g || '_' || f.f || '_' || i.i), 1, 2)
         )::BIGINT % 160 + 40
         + CASE WHEN (v = 1 AND f.f = 0 AND i.i = 0)
                  OR (v = 2 AND i.i < 4) THEN 56 ELSE 0 END AS luma
  FROM gv, (SELECT unnest(generate_series(0, 3)) AS f) f,
       (SELECT unnest(generate_series(0, 63)) AS i) i
), built AS (
  SELECT g, v,
         lpad(to_hex(16 + 4*(g % 3)), 8, '0') || '66747970'
         || '69736f6d' || '00000200' || repeat('69736f6d', g % 3)
         || CASE WHEN g % 2 = 0
              THEN lpad(to_hex(8 + (g*7 + v) % 16), 8, '0')
                   || '66726565' || repeat('00', (g*7 + v) % 16)
              ELSE '' END
         || lpad(to_hex(8 + 256), 8, '0') || '6d646174'
         || string_agg(lpad(to_hex(luma), 2, '0'), '' ORDER BY f, i)
           AS h,
         16 + 4*(g % 3)
         + CASE WHEN g % 2 = 0 THEN 8 + (g*7 + v) % 16 ELSE 0 END
         + 8 AS data_off
  FROM px GROUP BY g, v
), lum AS (
  SELECT s.doc_id, f.f AS f, i.i AS i,
         ('0x' || substr(b.h, (b.data_off + 64*f.f + i.i)*2 + 1, 2)
         )::BIGINT AS luma
  FROM src s JOIN built b ON b.g = s.g AND b.v = s.v,
       (SELECT unnest(generate_series(0, 3)) AS f) f,
       (SELECT unnest(generate_series(0, 63)) AS i) i
), tot AS (
  SELECT doc_id, f, SUM(luma) AS total FROM lum GROUP BY 1, 2
), fp AS (
  SELECT lum.doc_id, lum.f,
         CAST(SUM(CASE WHEN lum.i < 60 AND lum.luma * 64 > tot.total
                       THEN (1::BIGINT << lum.i) ELSE 0 END)
              AS BIGINT) AS fp
  FROM lum JOIN tot ON tot.doc_id = lum.doc_id AND tot.f = lum.f
  GROUP BY 1, 2
)"""


def _video_fingerprints(spark, sf_dir):
    """(doc, frame, fp) keyframe aHash table over the synthesized MP4
    corpus — shared by both queries, the sf1 stratum self-check
    script (scripts/phash_stratum_check.py --family video), and the
    pinned exactness test.

    Materialized (localCheckpoint) before the banded self-join: the
    synth + box-walk + decode expression tree left in the lineage
    would be re-derived on both join sides (the mm_phash_dedup lesson:
    153 s vs 1.5 s for 500 rows).  Repartitioned BEFORE the per-clip
    decode (the mm_audio_fingerprint_dedup lesson): the sf fixtures are
    one parquet split -> one input task, which serializes the CPU-bound walk+hash; a real video
    corpus gets its parallelism from file splits — the explicit
    repartition stands in for that."""
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id"))
    clips = M.synthesize_mp4_keyframes(docs, "doc_id",
                                       n_frames=_N_FRAMES)
    fps = M.mp4_keyframe_ahash(clips, "doc_id", n_frames=_N_FRAMES)
    return (fps.select(F.col("doc_id").alias("doc"), "frame", "fp")
            .localCheckpoint(eager=True))


@register("mm_video_keyframe_dedup", oracle=f"""
WITH {_VIDEO_FP_CTE}
-- per-frame radius filter BELOW the pair aggregate (equivalent to
-- HAVING MAX(hamming) <= 2 over all 4 frames, since each frame
-- contributes at most one row per pair and a pair qualifies only
-- with all 4 rows surviving) — the aggregate then sees ~planted-pair
-- rows, not the full n^2/2 group space, keeping the sf1 brute gate
-- inside DuckDB's memory
SELECT doc_a, doc_b, CAST(MAX(h) AS BIGINT) AS max_hamming
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.fp, b.fp)) AS h
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 2
)
GROUP BY 1, 2
HAVING COUNT(*) = 4
""")
def mm_video_keyframe_dedup(spark, sf_dir):
    """Video near-dup pairs by keyframe perceptual hash: box-walk to
    the frame bytes, aHash each of the 4 keyframes, ONE banded
    frame-to-frame Hamming join (radius 2), and keep pairs whose
    EVERY keyframe matched.  The fixture plants exact duplicates
    (identical streams), single-frame retouches (one keyframe at
    Hamming 1-2, the rest identical), and every-frame re-grades that
    must usually NOT pair — the oracle brute-forces the full pair
    space to grade exactly that cut.

    The frame payload is found by chaining ISO-BMFF box sizes, never a
    fixed offset: the ftyp brand tail and an optional ``free`` box
    shift ``mdat`` per stream.  The band join carries a group column
    so frame 0 only meets frame 0: one banded self-join for all
    frames, and a pair with any frame outside the radius yields fewer
    than ``n_frames`` rows and is dropped by the count filter."""
    fps = _video_fingerprints(spark, sf_dir)
    per_frame = D.hamming_band_pairs(fps, bits=60, max_hamming=2,
                                     group_col="frame")
    return (per_frame.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.max("hamming").cast("bigint").alias("max_hamming"))
            .filter(F.col("_n") == _N_FRAMES)
            .select("doc_a", "doc_b", "max_hamming"))


@register("mm_video_fp_recall_audit", oracle=f"""
WITH {_VIDEO_FP_CTE},
pred AS (
  -- same pushed-down per-frame radius filter as the dedup oracle
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 2
  )
  GROUP BY 1, 2
  HAVING COUNT(*) = 4
), truth AS (
  -- planted ground truth: same content group, and either both sides
  -- are the base/retouch variants (v in 0,1) or the same variant
  -- (identical streams)
{_PLANTED_PAIRS}), {_RECALL_PPM}""")
def mm_video_fp_recall_audit(spark, sf_dir):
    """Measured keyframe-fingerprint quality against planted ground
    truth: the all-frames-within-Hamming-2 pair set versus the
    fixture's known duplicate structure (same content group,
    base/retouch variants or identical streams) — recall and
    precision in floor ppm.  A single-frame retouch only pairs when
    its edited keyframe stays within the radius, so recall < 1 at any
    fixed radius and the measured number (not the assumption) is what
    sets the radius / frames-sampled budget on a real corpus — the
    same graded-compression discipline as mm_phash_recall_audit and
    mm_audio_fp_recall_audit.  Truth side is formula-bounded
    (group-sized join, never the clip pair space); predicted side is
    the banded join."""
    fps = _video_fingerprints(spark, sf_dir)
    pred = (D.hamming_band_pairs(fps, bits=60, max_hamming=2,
                                 group_col="frame")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") == _N_FRAMES)
            .select("doc_a", "doc_b"))
    return _recall_ppm(pred, _planted_pairs(spark, sf_dir))


# sample -> byte -> sample round-trip rebuilt independently in DuckDB
# (the fingerprint-family grading discipline: a Spark synth/decode bug
# cannot cancel out against its own read side)
_SNIPPET_FP_CTE = """
src AS (
  SELECT doc_id, doc_id % 100 AS g, (doc_id // 100) % 3 AS v
  FROM documents
), gv AS (
  SELECT DISTINCT g, v FROM src
), smp AS (
  SELECT g, v, i.i AS i,
         CASE WHEN v = 2 AND i.i BETWEEN 61 AND 182
           THEN ('0x' || substr(md5(((g + 1) % 100) || '_' || (i.i - 61)),
                 1, 4))::BIGINT % 160 - 80
           ELSE ('0x' || substr(md5(g || '_' || i.i), 1, 4))::BIGINT
                % 160 - 80
                + CASE WHEN v = 1 AND i.i IN (14, 15) THEN 40 ELSE 0 END
         END AS s
  FROM gv, (SELECT unnest(generate_series(0, 304)) AS i) i
), built AS (
  SELECT g, v,
         '52494646' || '86020000' || '57415645' || '666d7420'
         || '10000000' || '0100' || '0100' || '803e0000' || '007d0000'
         || '0200' || '1000' || '64617461' || '62020000'
         || string_agg(
              lpad(to_hex(((s + 65536) % 65536) % 256), 2, '0')
              || lpad(to_hex(((s + 65536) % 65536) // 256), 2, '0'),
              '' ORDER BY i) AS h
  FROM smp GROUP BY g, v
), ss AS (
  SELECT d.doc_id, i.i AS i,
         (('0x' || substr(b.h, 89 + 4*i.i, 2))::BIGINT
          + 256 * ('0x' || substr(b.h, 91 + 4*i.i, 2))::BIGINT
         ) % 65536
         - CASE WHEN (('0x' || substr(b.h, 89 + 4*i.i, 2))::BIGINT
                      + 256 * ('0x' || substr(b.h, 91 + 4*i.i, 2))::BIGINT)
                     % 65536 >= 32768 THEN 65536 ELSE 0 END AS s
  FROM src d JOIN built b ON b.g = d.g AND b.v = d.v,
       (SELECT unnest(generate_series(0, 304)) AS i) i
), en AS (
  SELECT s1.doc_id, w.w AS w, k.k AS k,
         s1.s * s1.s + s2.s * s2.s AS e
  FROM (SELECT unnest(generate_series(0, 3)) AS w) w,
       (SELECT unnest(generate_series(0, 60)) AS k) k,
       ss s1, ss s2
  WHERE s1.i = w.w * 61 + 2 * k.k
    AND s2.doc_id = s1.doc_id AND s2.i = s1.i + 1
), fp AS (
  SELECT e1.doc_id, e1.w,
         CAST(SUM(CASE WHEN e2.e > e1.e THEN (1::BIGINT << e1.k)
                       ELSE 0 END) AS BIGINT) AS fp
  FROM en e1 JOIN en e2 ON e2.doc_id = e1.doc_id AND e2.w = e1.w
                       AND e2.k = e1.k + 1
  WHERE e1.k < 60
  GROUP BY 1, 2
)"""


# composite-key stride: doc * _KEY_STRIDE + win encodes (clip, window)
# in one BIGINT band-join key; 4 windows per 305-sample clip, stride 8
# leaves headroom and keeps k_a < k_b equivalent to doc_a < doc_b for
# cross-clip pairs
_KEY_STRIDE = 8


def _snippet_pairs(fps):
    """Cross-clip window pairs within Hamming 2 via the composite-key
    band join.  Within-clip pairs (same doc, different windows) are
    excluded — self-similarity is a different question than reuse."""
    keyed = fps.select(
        (F.col("doc") * _KEY_STRIDE + F.col("win")).alias("doc"),
        "fp")
    pairs = D.hamming_band_pairs(keyed, bits=60, max_hamming=2,
                                 by_value=True)
    return (pairs.select(
        (F.col("doc_a") / _KEY_STRIDE).cast("bigint").alias("doc_a"),
        (F.col("doc_a") % _KEY_STRIDE).cast("bigint").alias("win_a"),
        (F.col("doc_b") / _KEY_STRIDE).cast("bigint").alias("doc_b"),
        (F.col("doc_b") % _KEY_STRIDE).cast("bigint").alias("win_b"),
        "hamming")
        .filter(F.col("doc_a") != F.col("doc_b")))


def _snippet_window_fps(spark, sf_dir):
    """(doc, win, fp) windowed sub-fingerprint table over the
    synthesized snippet corpus — shared by both queries and the
    stratum script (--family snippet).  Same materialization +
    repartition rationale as the other fingerprint families."""
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id"))
    clips = M.synthesize_wav_pcm_snippets(docs, "doc_id")
    fps = M.pcm_window_fingerprints(clips, "doc_id")
    return (fps.select(F.col("doc_id").alias("doc"), "win", "fp")
            .localCheckpoint(eager=True))


@register("mm_audio_snippet_pairs", oracle=f"""
WITH {_SNIPPET_FP_CTE}
SELECT a.doc_id AS doc_a, CAST(a.w AS BIGINT) AS win_a,
       b.doc_id AS doc_b, CAST(b.w AS BIGINT) AS win_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 2
""")
def mm_audio_snippet_pairs(spark, sf_dir):
    """Cross-clip matched window pairs (Hamming <= 2) over windowed
    audio sub-fingerprints: the snippet-reuse index.  The planted
    v=2 borrow surfaces as (borrower win 1, source win 0); same-group
    variants surface via their identical borrow-free windows; the
    oracle brute-forces the full (clip, window) pair space to grade
    the cut exactly.

    A snippet of clip A re-encoded inside clip B surfaces as a matched
    window pair at the embedding offset, which whole-clip fingerprints
    (mm_audio_fingerprint_dedup) can never find.  At 100 TB windowing
    multiplies fingerprint rows by clip_len/hop; the rest stays map-
    only per clip plus one banded self-join."""
    return _snippet_pairs(_snippet_window_fps(spark, sf_dir))


@register("mm_audio_snippet_recall_audit", oracle=f"""
WITH {_SNIPPET_FP_CTE},
pred AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 2
), truth AS (
  -- planted ground truth, clip-level: same content group (every
  -- variant pair shares at least the borrow-free window 3), or the
  -- borrower -> source relation (v=2 of group g embeds the base
  -- window 0 of group (g+1) % 100; source v in (0,1) — the wobble
  -- moves at most one frame = two bits, still inside the radius)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM src a JOIN src b ON a.doc_id < b.doc_id
  WHERE a.g = b.g
     OR (a.v = 2 AND b.g = (a.g + 1) % 100 AND b.v IN (0, 1))
     OR (b.v = 2 AND a.g = (b.g + 1) % 100 AND a.v IN (0, 1))
), {_RECALL_PPM}""")
def mm_audio_snippet_recall_audit(spark, sf_dir):
    """Clip-level containment verdicts vs planted truth: a predicted
    pair is any cross-clip pair with >= 1 matched window; truth is
    the same-group relation plus the borrower->source embedding.
    Recall here is structurally 1 (every truth pair shares an exact
    or <= 2-bit window by construction) — the MEASURED number is
    precision: how many matched-window pairs are md5-content
    coincidences rather than planted reuse, which is exactly the
    false-positive rate a production screen pays at this radius."""
    fps = _snippet_window_fps(spark, sf_dir)
    pred = (_snippet_pairs(fps)
            .select("doc_a", "doc_b").distinct())
    a, b = _planted_labels(spark, sf_dir)
    # three EQUI-joins, not one OR-condition theta join (which would
    # be a clip-pair-space BNLJ): same group; borrower->source; its
    # mirror.  The three are disjoint by construction (a group never
    # equals its own successor mod 100 for n_groups > 1), so a plain
    # union suffices.
    t_same = a.join(b, (F.col("g_a") == F.col("g_b"))
                    & (F.col("doc_a") < F.col("doc_b")))
    t_fwd = (a.filter(F.col("v_a") == 2)
             .join(b.filter(F.col("v_b").isin(0, 1)),
                   (F.col("g_b") == (F.col("g_a") + 1) % 100)
                   & (F.col("doc_a") < F.col("doc_b"))))
    t_rev = (a.filter(F.col("v_a").isin(0, 1))
             .join(b.filter(F.col("v_b") == 2),
                   (F.col("g_a") == (F.col("g_b") + 1) % 100)
                   & (F.col("doc_a") < F.col("doc_b"))))
    truth = (t_same.select("doc_a", "doc_b")
             .unionByName(t_fwd.select("doc_a", "doc_b"))
             .unionByName(t_rev.select("doc_a", "doc_b")))
    return _recall_ppm(pred, truth)
