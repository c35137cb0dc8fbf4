"""Text-analysis queries over ``documents``, each with
an exact DuckDB oracle mirroring the Spark expression 1:1.
"""

from __future__ import annotations

from ..operators import text as T
from ..registry import register
from ..sources.catalog import load_table
from ..sources.catalog import ensure_session_confs


@register("text_token_stats", oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       CAST(ceil(CAST(length(text) AS BIGINT) / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
""")
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-estimate)."""
    return T.token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_bpe_pretokens", oracle=r"""
WITH x AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
           AS BIGINT) AS n_pretokens,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
  FROM documents
)
SELECT doc_id, n_pretokens, n_ws_tokens,
       round(n_pretokens * 1.0 / n_ws_tokens, 6) AS pretoken_ratio
FROM x
""")
def text_bpe_pretokens(spark, sf_dir):
    """BPE-ish regex pre-tokenizer count (GPT-2 pattern, RE2-safe so
    Java and RE2 regex engines count identically)."""
    return T.bpe_pretokens(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_quality", oracle="""
WITH x AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS alpha_chars
  FROM documents
)
SELECT doc_id, n_tokens,
       round(alpha_chars * 1.0 / n_tokens, 6) AS avg_token_len,
       round(len(list_distinct(w)) * 1.0 / n_tokens, 6) AS uniq_ratio,
       round(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) * 1.0
             / n_tokens, 6) AS stopword_ratio,
       (n_tokens >= 10
        AND round(len(list_distinct(w)) * 1.0 / n_tokens, 6) >= 0.1
        AND round(alpha_chars * 1.0 / n_tokens, 6) <= 15.0) AS is_quality
FROM x
""")
def text_quality(spark, sf_dir):
    """Heuristic quality scoring (length / diversity / stopword ratios)."""
    return T.quality_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_lang_id", oracle="""
WITH x AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id,
    CAST(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) AS BIGINT) AS score_en,
    CAST(len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS score_de,
    CAST(len(list_filter(w, t -> list_contains(['el','la','los','que','y'], t))) AS BIGINT) AS score_es,
    CAST(len(list_filter(w, t -> list_contains(['le','les','des','et','est'], t))) AS BIGINT) AS score_fr,
    CAST(len(list_filter(w, t -> list_contains(['的','是','了','在'], t))) AS BIGINT) AS score_zh
  FROM x
)
SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
       CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM s
""")
def text_lang_id(spark, sf_dir):
    """Stopword-hit language-ID heuristic (priority order breaks ties)."""
    return T.lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_fingerprint", oracle="""
WITH x AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> CAST(ascii(t) AS BIGINT) * 65536
                             + CAST(ascii(reverse(t)) AS BIGINT) * 256
                             + CAST(length(t) AS BIGINT)) AS wi
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), wi),
                   (acc, v) -> (acc * 1000003 + v) % 2147483647) AS fingerprint
FROM x
""")
def text_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint (portable fold)."""
    return T.fingerprints(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_model_score", oracle="""
WITH x AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS alpha_chars
  FROM documents
), f AS (
  SELECT doc_id, n_tokens,
         round(alpha_chars * 1.0 / n_tokens, 6) AS avg_token_len,
         round(len(list_distinct(w)) * 1.0 / n_tokens, 6) AS uniq_ratio,
         round(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) * 1.0
               / n_tokens, 6) AS stopword_ratio
  FROM x
), s AS (
  SELECT doc_id,
         CAST(round(
           CAST(-3.0 AS DECIMAL(12,6))
           + CAST(0.02 AS DECIMAL(12,6)) * CAST(n_tokens AS DECIMAL(12,6))
           + CAST(0.25 AS DECIMAL(12,6)) * CAST(avg_token_len AS DECIMAL(12,6))
           + CAST(2.0 AS DECIMAL(12,6)) * CAST(uniq_ratio AS DECIMAL(12,6))
           + CAST(-3.0 AS DECIMAL(12,6)) * CAST(stopword_ratio AS DECIMAL(12,6)),
         6) AS DOUBLE) AS score
  FROM f
)
SELECT doc_id, score,
       round(1.0::DOUBLE / (1.0::DOUBLE + exp(-score)), 6) AS prob,
       (round(1.0::DOUBLE / (1.0::DOUBLE + exp(-score)), 6) >= 0.5) AS keep
FROM s
""")
def text_model_score(spark, sf_dir):
    """Linear quality-classifier inference (fixed literal weights +
    sigmoid) — the distributed model-scoring shape: map-only, weights
    compiled into the plan; the oracle replays the identical
    arithmetic (both engines' exp() agree to <=1 ulp, far inside the
    6-dp round)."""
    return T.model_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")
