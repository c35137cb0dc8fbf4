"""Text-analysis queries over ``documents``: token statistics,
quality and language signals, n-grams, fingerprints, URL parsing and
PII handling, each with a DuckDB oracle that mirrors the Spark
expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D, profiling as P, text as T
from ..operators.stats import _RDIV
from ..operators.text import (
    boilerplate_span_coverage, cdc_chunks, cdc_chunks_sql, rake_keywords,
    winnowing_fingerprints,
)
from ..registry import register
from ..sources.catalog import load_table, spread_input
from ._shared import (
    _DOC_TOKENS, _QUALITY_SCORE, _rdiv_sql, _RE_HOST, _RE_HOSTPORT, _RE_PATH,
    _RE_PORT, _RE_QUERY, _RE_SCHEME, _SHINGLES, _URL_SQL, _urls, _WINNOW_SQL,
)


@register("text_ngram_novelty", oracle="""
WITH """ + _SHINGLES + """, dfreq AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*), 6) AS novelty
FROM sh JOIN dfreq USING (shingle)
GROUP BY doc_id
""")
def text_ngram_novelty(spark, sf_dir):
    """Per-doc 5-gram novelty (fraction of shingles unique to the doc)
    — the content-originality signal; posting-list shape, exact BIGINT
    counts, ratio rounded to 6 dp."""
    return D.ngram_novelty(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_word_entropy", oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
), totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1
)
SELECT counts.doc_id,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(sum(CAST(round(-((c / n) * ln(c / n)), 9)
                           AS DECIMAL(18,9))) AS DOUBLE), 6) AS entropy
FROM counts JOIN totals USING (doc_id)
GROUP BY counts.doc_id
""")
def text_word_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy (nats): gibberish/repetition
    signal; decimal-summed so the fold is order-independent and
    oracle-exact."""
    return T.word_entropy(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_bigram_perplexity", oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM base, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), cb AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2
), cp AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY 1
), vocab AS (
  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
  FROM (SELECT unnest(w) AS word FROM base)
), scored AS (
  SELECT bg.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(CAST(round(-ln((cb.cb + CAST(1.0 AS DOUBLE)) / (cp.cp + vocab.v)), 9)
                  AS DECIMAL(18,9))) AS nll
  FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN vocab
  GROUP BY 1
)
SELECT doc_id, n_bigrams,
       round(CAST(nll AS DOUBLE) / n_bigrams, 6) AS avg_nll,
       round(exp(CAST(nll AS DOUBLE) / n_bigrams), 6) AS perplexity
FROM scored
""")
def text_bigram_perplexity(spark, sf_dir):
    """Perplexity filtering: each doc scored under an add-one bigram
    LM trained on the corpus itself — keyed model joins, decimal-exact
    NLL fold, fully value-oracled."""
    return T.bigram_perplexity(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_pii_redact", oracle="""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || doc_id ||
                   '@example.com or +1 555-000-1234 ssn 123-45-6789'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN_LIKE>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS redacted_text,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN_LIKE>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') <> text AS has_redactions
FROM injected
""")
def text_pii_redact(spark, sf_dir):
    """PII redaction (the action behind the pii_flags decision): every
    third doc gets an injected email + phone + SSN, then the three
    pattern classes are replaced by placeholder tokens in a fixed
    order (SSN before the broader phone pattern) — byte-for-byte
    oracled."""
    from ..operators.profiling import pii_redact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com or +1 555-000-1234 ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_redact(injected, "doc_id", "text")


@register("text_gopher_rules", oracle="""
WITH x AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         round(list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w), 6)
           AS mean_word_len,
         round(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
               * 1.0 / len(w), 6) AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(w),
                                 ['the','a','and','of','to','is']))
              AS BIGINT) AS n_stop_hits,
         round(list_max(list_transform(list_distinct(w),
                 d -> len(list_filter(w, t -> t = d)))) * 1.0 / len(w), 6)
           AS top_word_ratio,
         round(len(regexp_extract_all(text, '#|\\.\\.\\.')) * 1.0 / len(w), 6)
           AS symbol_ratio
  FROM x
), r AS (
  SELECT *,
         (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
           AS rule_mean_word_len,
         alpha_word_frac >= 0.8 AS rule_alpha_words,
         n_stop_hits >= 2 AS rule_stopwords,
         top_word_ratio <= 0.2 AS rule_top_word,
         symbol_ratio <= 0.1 AS rule_symbol_ratio
  FROM m
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_stop_hits,
       top_word_ratio, symbol_ratio,
       rule_word_count, rule_mean_word_len, rule_alpha_words,
       rule_stopwords, rule_top_word, rule_symbol_ratio,
       (rule_word_count AND rule_mean_word_len AND rule_alpha_words
        AND rule_stopwords AND rule_top_word AND rule_symbol_ratio)
         AS passes_gopher
FROM r
""")
def text_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText rule-based quality filter: six public
    heuristic rules (word-count bounds, mean word length, alphabetic
    fraction, stop-word presence, top-word concentration, symbol
    ratio) as one map-only codegen pass — the rule-set curation
    pipelines run BEFORE any model-based scoring; every metric and
    every verdict value-oracled.  Repartitioned before the per-doc
    rule pass (the fixture is one parquet split -> one task; the
    top-word fold is O(distinct·n) per doc — real corpora get this
    parallelism from file splits, the operator itself stays
    map-only)."""
    docs = spread_input(load_table(spark, sf_dir, "documents"))
    return T.gopher_rules(docs, "doc_id", "text")


@register("text_c4_line_filter", oracle="""
WITH w0 AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), built AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(ceil(len(w) / 12.0) AS BIGINT) - 1),
           i -> array_to_string(w[i*12+1 : i*12+12], ' ')
                || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END
         ) AS lines0
  FROM w0
), injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN list_append(lines0,
                               'lorem ipsum dolor sit amet consectetur.')
              ELSE lines0 END AS lines
  FROM built
), kept AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
           len(string_split(l, ' ')) >= 5
           AND regexp_matches(l, '[.!?"]$')
           AND NOT contains(lower(l), 'lorem ipsum')
           AND NOT contains(lower(l), 'javascript')
           AND NOT contains(l, '{')) AS keep_lines
  FROM injected
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keep_lines) AS BIGINT) AS n_kept,
       round(len(keep_lines) * 1.0 / len(lines), 6) AS kept_ratio,
       coalesce(array_to_string(keep_lines, chr(10)), '') AS filtered_text,
       len(keep_lines) < 3 AS dropped
FROM kept
""")
def text_c4_line_filter(spark, sf_dir):
    """C4-style line-level cleaning.  The corpus ships as single-line
    docs, so the query deterministically builds line structure first
    (12-word lines; every line except each doc's (doc_id+i)%4==0-th
    gets terminal punctuation; every 17th doc gets an injected 'lorem
    ipsum' line) — then the operator keeps only well-formed lines and
    re-assembles the text, dropping docs with < 3 surviving lines.
    Construction, filtering, and the re-assembled bytes are all
    value-oracled."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(w) / F.lit(12.0)).cast("bigint")
    lines0 = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_lines - 1),
        lambda i: F.concat(
            F.array_join(F.slice(w, (i * 12 + 1).cast("int"), 12), " "),
            F.when((F.col("doc_id") + i) % 4 != 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    lines = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(
            lines0,
            F.array(F.lit("lorem ipsum dolor sit amet consectetur.")),
        ),
    ).otherwise(lines0)
    structured = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return T.c4_line_filter(structured, "doc_id", "text")


@register("text_pii_flags", oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{7,}\\d')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn_like,
       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{7,}\\d')) > 0
        OR len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) > 0) AS has_pii
FROM documents
""")
def text_pii_flags(spark, sf_dir):
    """PII pattern counts per document (email/phone/SSN-shaped) — the
    cheap first-pass redaction filter."""
    return P.pii_flags(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_repetition", oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tw AS (
  SELECT doc_id, MAX(c) AS top_word_count, SUM(c) AS n_tokens
  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
  GROUP BY doc_id
), bg0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                               i -> string_split(text, ' ')[i] || ' ' ||
                                    string_split(text, ' ')[i+1])) AS bg
  FROM documents
), bgs AS (
  SELECT doc_id, SUM(c) AS n_bigrams,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bigrams
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg0 GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT tw.doc_id,
       CAST(tw.n_tokens AS BIGINT) AS n_tokens,
       round(tw.top_word_count * 1.0 / tw.n_tokens, 6) AS top_word_ratio,
       round(bgs.dup_bigrams * 1.0 / bgs.n_bigrams, 6) AS dup_bigram_ratio
FROM tw LEFT JOIN bgs ON tw.doc_id = bgs.doc_id
""")
def text_repetition(spark, sf_dir):
    """Gopher-style repetition scores (top-word ratio, duplicate-bigram
    ratio) — degenerate-text filters."""
    return P.repetition_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


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
WITH """ + _DOC_TOKENS + """
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
WITH """ + _DOC_TOKENS + """, f AS (
  SELECT doc_id, n_tokens,
         round(alpha_chars * 1.0 / n_tokens, 6) AS avg_token_len,
         round(len(list_distinct(w)) * 1.0 / n_tokens, 6) AS uniq_ratio,
         round(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) * 1.0
               / n_tokens, 6) AS stopword_ratio
  FROM x
), s AS (
  SELECT doc_id,
""" + _QUALITY_SCORE + """\
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


@register("text_langid_confusion", oracle="""
WITH x AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(w, t -> list_contains(['the','a','and','of','to','is'], t))) AS BIGINT) AS score_en,
    CAST(len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS score_de,
    CAST(len(list_filter(w, t -> list_contains(['el','la','los','que','y'], t))) AS BIGINT) AS score_es,
    CAST(len(list_filter(w, t -> list_contains(['le','les','des','et','est'], t))) AS BIGINT) AS score_fr,
    CAST(len(list_filter(w, t -> list_contains(['的','是','了','在'], t))) AS BIGINT) AS score_zh
  FROM x
), p AS (
  SELECT doc_id, lang,
       CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
  FROM s
)
SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY 1, 2
""")
def text_langid_confusion(spark, sf_dir):
    """Language-ID quality audit: confusion matrix of the stopword
    heuristic's prediction against the labeled ``lang`` column —
    one join-free map-only pass (the label rides through the
    predictor via ``carry_cols``) plus a (lang, pred)-keyed
    aggregate."""
    from pyspark.sql import functions as F

    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs, "doc_id", "text", carry_cols=("lang",))
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


_CODE_KWS = ["def ", "return", "import", "void ", "function"]


_CODE_SYMS = list("{}();=<>")


def _occurrences_sql(col: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (f"(length({col}) - length(replace({col}, '{esc}', '')))"
            f" // {len(needle)}")


@register("text_code_detect", oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(list_filter(string_split(text, chr(10)),
                            x -> x LIKE '    %' OR x LIKE chr(9) || '%'))
            AS BIGINT) AS indent_lines,
       CAST({' + '.join(_occurrences_sql('text', s) for s in _CODE_SYMS)}
            AS BIGINT) AS sym_count,
       CAST({' + '.join(_occurrences_sql('text', k) for k in _CODE_KWS)}
            AS BIGINT) AS kw_hits,
       ({' + '.join(_occurrences_sql('text', s) for s in _CODE_SYMS)}) * 50
           > length(text)
       OR ({' + '.join(_occurrences_sql('text', k) for k in _CODE_KWS)}) >= 3
         AS is_code
FROM documents
""")
def text_code_detect(spark, sf_dir):
    """Code-vs-prose detection for corpus routing (code gets a
    different tokenizer/mixture weight): symbol density, indented-line
    share, and keyword hits, all via integer counting (occurrences =
    length delta under replace — exact in both engines, no regex
    dialect risk).  Map-only, pure codegen."""
    docs = load_table(spark, sf_dir, "documents")

    def occ(needle: str):
        esc = needle.replace("'", "\\'")
        return F.expr(
            f"(length(text) - length(replace(text, '{esc}', '')))"
            f" div {len(needle)}")

    syms = sum((occ(s) for s in _CODE_SYMS[1:]), occ(_CODE_SYMS[0]))
    kws = sum((occ(k) for k in _CODE_KWS[1:]), occ(_CODE_KWS[0]))
    lines = F.split(F.col("text"), "\n", -1)
    indent = F.expr(
        "size(filter(split(text, '\\n', -1),"
        " x -> x like '    %' or x like '\\t%'))")
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        indent.cast("bigint").alias("indent_lines"),
        syms.cast("bigint").alias("sym_count"),
        kws.cast("bigint").alias("kw_hits"),
        ((syms * 50 > F.length("text")) | (kws >= 3)).alias("is_code"),
    )


@register("text_readability_score", oracle="""
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS sentences,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS words,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS vgroups
  FROM documents
)
SELECT doc_id, CAST(sentences AS BIGINT) AS sentences,
       CAST(words AS BIGINT) AS words,
       CAST(vgroups AS BIGINT) AS vgroups,
       CAST(CASE WHEN sentences > 0 AND words > 0
                 THEN 206835 - (1015 * words) // sentences
                             - (84600 * vgroups) // words
            END AS BIGINT) AS flesch_milli
FROM m
""")
def text_readability_score(spark, sf_dir):
    """Flesch reading-ease scoring in exact milli-units (vowel-group
    runs proxy syllables — the standard codec-free approximation):
    sentence/word/syllable counts are integers, the score is two
    integer divisions, so both engines agree bit-for-bit with no
    float formula drift.  Map-only; the score feeds readability-band
    mixture planning next to the Gopher/C4 filters."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, '[.!?]+', -1), x -> trim(x) != ''))")
        .cast("bigint").alias("sentences"),
        F.expr("size(filter(split(text, '\\\\s+', -1), x -> x != ''))")
        .cast("bigint").alias("words"),
        F.expr("regexp_count(lower(text), '[aeiou]+')")
        .cast("bigint").alias("vgroups"),
    )
    return counted.select(
        "doc_id", "sentences", "words", "vgroups",
        F.when(
            (F.col("sentences") > 0) & (F.col("words") > 0),
            F.lit(206835)
            - F.expr("(1015 * words) div sentences")
            - F.expr("(84600 * vgroups) div words"),
        ).cast("bigint").alias("flesch_milli"),
    )


@register("text_line_dedup_within_doc", oracle="""
WITH l AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
), d AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, i) -> list_position(lines, x) = i)
           AS kept
  FROM l
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, chr(10)) AS deduped_text
FROM d
""")
def text_line_dedup_within_doc(spark, sf_dir):
    """Within-document line dedup (first occurrence wins, order
    preserved) — strips boilerplate navigation/footer lines repeated
    inside a page, the intra-doc complement of the corpus-level C4
    line filter.  Pure higher-order array functions: first-occurrence
    via array_position == own index (Spark lambdas index from 0,
    DuckDB from 1 — both sides spell their own convention), map-only,
    re-assembled text compared byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n", -1).alias("lines"),
    ).select(
        "doc_id", "lines",
        F.expr("filter(lines, (x, i) -> array_position(lines, x) = i + 1)")
        .alias("kept"),
    )
    return d.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.array_join("kept", "\n").alias("deduped_text"),
    )


@register("text_cdc_chunks",
          oracle=cdc_chunks_sql("documents", "doc_id", "text"))
def text_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/text.py cdc_chunks):
    boundaries where a 4-char windowed polynomial hash is 0 mod 16, so
    chunk edges move with the content and early edits don't shift
    every later chunk — the dedup-robust complement of the
    fixed-stride ``corpus_chunk_overlap``.  Map-only higher-order
    functions; all-integer hash, byte-for-byte chunk text parity.
    Repartitioned before the per-char hash pass (one-split fixture ->
    one task; real corpora parallelize via file splits — the operator
    itself stays map-only)."""
    docs = spread_input(load_table(spark, sf_dir, "documents"))
    return cdc_chunks(docs, "doc_id", "text")


@register("text_rake_keywords", oracle="""
WITH w0 AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), words AS (
  SELECT doc_id, u.pos AS pos, u.word AS word
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w)),
                      i -> {'pos': i, 'word': w[i]})) AS u
        FROM w0)
  WHERE u.word <> ''
), stop AS (
  SELECT word FROM words GROUP BY word
  ORDER BY COUNT(*) DESC, word LIMIT 10
), marked AS (
  SELECT words.doc_id, words.pos, words.word,
         CASE WHEN stop.word IS NULL THEN 0 ELSE 1 END AS is_stop
  FROM words LEFT JOIN stop ON stop.word = words.word
), seg AS (
  SELECT doc_id, word, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM marked
), nonstop AS (
  SELECT doc_id, word, phrase_id FROM seg WHERE is_stop = 0
), plen AS (
  SELECT doc_id, phrase_id, COUNT(*) AS plen
  FROM nonstop GROUP BY 1, 2
)
SELECT nonstop.word AS word,
       CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(SUM(plen) AS BIGINT) AS degree,
       CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ratio
FROM nonstop
JOIN plen ON plen.doc_id = nonstop.doc_id
         AND plen.phrase_id = nonstop.phrase_id
GROUP BY 1
ORDER BY degree DESC, word
LIMIT 20
""")
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction with a data-driven stopword list
    (operators/text.py rake_keywords): the 10 most frequent corpus
    words delimit candidate phrases; each word scores the summed
    length of its phrases (degree) against its frequency.  Stopword
    list broadcasts; phrase segmentation is a document-partitioned
    running sum — no global windows."""
    docs = load_table(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text",
                         n_stopwords=10, top=20)


@register("text_winnowing_fingerprints", oracle=_WINNOW_SQL)
def text_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection (operators/text.py
    winnowing_fingerprints): min-hash-of-window over char 5-gram
    hashes, rightmost tie-break — any shared substring of length >= 8
    is guaranteed to share a fingerprint while only ~2/(w+1) of grams
    are kept.  Map-only higher-order functions; the trailing DISTINCT
    is the lone (map-side-combined) shuffle; all-integer hashing gives
    byte-exact DuckDB parity."""
    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register("text_url_parse", oracle=f"""
WITH u AS ({_URL_SQL}),
p AS (
  SELECT doc_id,
         regexp_extract(url, '{_RE_SCHEME}', 1) AS scheme,
         regexp_extract(regexp_extract(url, '{_RE_HOSTPORT}', 1),
                        '{_RE_HOST}', 1) AS host,
         regexp_extract(regexp_extract(url, '{_RE_HOSTPORT}', 1),
                        '{_RE_PORT}', 1) AS port_s,
         regexp_extract(url, '{_RE_PATH}', 1) AS path,
         regexp_extract(url, '{_RE_QUERY.replace("'", "''")}', 1) AS q,
         url LIKE '%#%' AS has_fragment
  FROM u
), n AS (
  SELECT doc_id, scheme,
         CASE WHEN lower(host) LIKE 'www.%' THEN substr(lower(host), 5)
              ELSE lower(host) END AS host_norm,
         CASE WHEN port_s = '' THEN NULL
              ELSE CAST(port_s AS BIGINT) END AS port,
         path, q, has_fragment
  FROM p
)
SELECT doc_id, scheme, host_norm,
       string_split(host_norm, '.')[-2] || '.'
         || string_split(host_norm, '.')[-1] AS registered_domain,
       port,
       CAST(len(path) - len(replace(path, '/', '')) AS BIGINT)
         AS n_path_slashes,
       q <> '' AS has_query,
       has_fragment
FROM n
""")
def text_url_parse(spark, sf_dir):
    """URL structural parse — the first step of every web-corpus
    pipeline (host-level dedup, domain quotas, scheme filters): pure
    regexp field extraction (RE2-safe patterns: character classes
    only, so Java and RE2 agree), host lowercasing + www-stripping,
    and the registered domain as the last two dot-labels.  Map-only,
    fully codegen'd; the synthesized URL corpus crosses 9 variant
    axes (scheme/www/name/tld/port/path/slash/query/fragment) so
    every extraction branch is exercised."""
    u = _urls(spark, sf_dir)
    hostport = F.regexp_extract("url", _RE_HOSTPORT, 1)
    p = u.select(
        "doc_id",
        F.regexp_extract("url", _RE_SCHEME, 1).alias("scheme"),
        F.regexp_extract(hostport, _RE_HOST, 1).alias("host"),
        F.regexp_extract(hostport, _RE_PORT, 1).alias("port_s"),
        F.regexp_extract("url", _RE_PATH, 1).alias("path"),
        F.regexp_extract("url", _RE_QUERY, 1).alias("q"),
        F.col("url").contains("#").alias("has_fragment"),
    )
    host_norm = F.when(
        F.lower("host").startswith("www."),
        F.expr("substring(lower(host), 5)")).otherwise(F.lower("host"))
    n = p.select(
        "doc_id", "scheme", host_norm.alias("host_norm"),
        F.when(F.col("port_s") == "", F.lit(None).cast("bigint"))
        .otherwise(F.col("port_s").cast("bigint")).alias("port"),
        "path", "q", "has_fragment")
    labels = F.split("host_norm", r"\.")
    return n.select(
        "doc_id", "scheme", "host_norm",
        F.concat(F.element_at(labels, -2), F.lit("."),
                 F.element_at(labels, -1)).alias("registered_domain"),
        "port",
        (F.length("path")
         - F.length(F.regexp_replace("path", "/", "")))
        .cast("bigint").alias("n_path_slashes"),
        (F.col("q") != "").alias("has_query"),
        "has_fragment",
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


@register("text_boilerplate_coverage", oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), toks AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM words
), pg0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 7),
                i -> struct_pack(pos := i - 1,
                                 gram := array_to_string(w[i:i+7], ' '))))
           AS u
  FROM words
), pg AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM pg0
), hot AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS gdf FROM pg GROUP BY 1
  ) WHERE gdf >= 2
), covered AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered FROM (
    SELECT DISTINCT doc_id, p FROM (
      SELECT pg.doc_id,
             unnest(generate_series(pg.pos, pg.pos + 7)) AS p
      FROM pg JOIN hot USING (gram))
  ) GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
       CAST(COALESCE(c.n_covered, 0) * 1000000 // t.n_tokens
            AS BIGINT) AS boiler_ppm
FROM toks t LEFT JOIN covered c USING (doc_id)
""")
def text_boilerplate_coverage(spark, sf_dir):
    """Per-document boilerplate span coverage: word 8-grams shared by
    >= 2 documents mark their token positions as templated; each doc
    reports (n_tokens, n_covered, boiler_ppm) — the strip-or-keep
    readout a crawl-scale curation pass makes before training
    (operators/text.py boilerplate_span_coverage).  Zero-coverage and
    sub-k docs are kept (coverage 0), so the output partitions the
    corpus exactly.

    The synthetic corpus has no line structure, so the unit of
    boilerplate is the repeated k-gram span, which is also the form
    that survives reflowed HTML at crawl scale."""
    return boilerplate_span_coverage(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", min_df=2)


@register("string_similarity", oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey % 4 = 0 AND b.p_partkey % 4 = 0
  AND levenshtein(a.p_name, b.p_name) <= 2
""")
def string_similarity(spark, sf_dir):
    """Edit-distance pair matching (fuzzy key dedup shape) on part
    names — string-dedup + PassJoin segment blocking + exact verify
    (operators/edjoin.py), never the cartesian the oracle spells out.
    Part names (natural words) rather than customer names: fixed-format
    serial strings share every blocking key, so fuzzy dedup on them is
    degenerate by construction; varied text is the shape the blocking
    must (and does) carry."""
    from ..operators.edjoin import edit_distance_pairs

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 4 == 0)
    return edit_distance_pairs(p, "p_partkey", "p_name", max_dist=2)


@register("explode_tokens", oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 10
""")
def explode_tokens(spark, sf_dir):
    """Array explode / unnest (token stream shape)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 10)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


@register("ngram_topk", oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM words
)
SELECT bigram, COUNT(*) AS freq
FROM grams
GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 20
""")
def ngram_topk(spark, sf_dir):
    """Corpus-level bigram frequency top-k (vocabulary analysis)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.split("text", " ").alias("w"))
    # short-doc guard (sequence(0, -1) counts down; w[i+1] OOB crashes
    # under ANSI) — mirrors shingles() in operators/dedup.py
    bigram_expr = F.when(
        F.size(F.col("w")) >= 2,
        F.expr("transform(sequence(0, size(w) - 2), "
               "i -> concat(w[i], ' ', w[i+1]))"),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = w.select(F.explode(bigram_expr).alias("bigram"))
    return (
        bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(20)
    )


@register("array_token_ops", oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
       list_contains(string_split(text, ' '), 'the') AS has_the
FROM documents
WHERE doc_id % 7 = 0
""")
def array_token_ops(spark, sf_dir):
    """Array-function surface over tokenized text: size, distinct
    count, slice, containment — all JVM collection expressions (the
    building blocks the dedup/text operators compose)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
    )
