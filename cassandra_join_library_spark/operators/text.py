"""Text-analysis operators for training-data pipelines (engine
extension — the reference has no scalar/text functions, SURVEY.md
§2.6).

All expressions are built-in higher-order functions (split / filter /
transform / aggregate) — JVM-side, codegen-friendly, no Python UDFs —
and every computation has a portable ANSI-SQL twin so the DuckDB
oracle can verify it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic; priority order breaks ties (first wins)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "et", "est"],
    "zh": ["的", "是", "了", "在"],
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token / character counting (whitespace tokenizer + a BPE-ish
    approximation: tokens ~ ceil(chars/4), the common LLM estimate)."""
    w = _words(text_col)
    n_tokens = F.size(w).cast("bigint")
    n_chars = F.length(F.col(text_col)).cast("bigint")
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct_tokens"),
        F.ceil(n_chars / 4.0).cast("bigint").alias("est_bpe_tokens"),
    )


# GPT-2-style pre-tokenizer pattern, restricted to RE2-compatible
# syntax (no lookahead) so Java regex (Spark) and RE2 (DuckDB) match
# identically: contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, and
# whitespace runs.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_pretokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Regex pre-tokenizer counting — the BPE-ish token count the
    task-level estimate (`chars/4`) approximates.  Counts the GPT-2
    pre-token segments (letter runs / digit runs / punctuation runs /
    contractions) per document, plus the ratio to the whitespace count;
    pure ``regexp_count``, JVM-side, map-only."""
    n_pre = F.regexp_count(F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN)) \
        .cast("bigint")
    n_ws = F.size(_words(text_col)).cast("bigint")
    return df.select(
        F.col(id_col),
        n_pre.alias("n_pretokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_pre / n_ws, 6).alias("pretoken_ratio"),
    )


def _quality_features(text_col: str) -> "tuple[Column, ...]":
    """Token count, mean token length, lexical diversity and stopword
    ratio of ``text_col``, the ratios rounded to 6 dp."""
    w = _words(text_col)
    n_tokens = F.size(w).cast("bigint")
    sw = F.array([F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(w, lambda x: F.array_contains(sw, x))).cast("bigint")
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("bigint")
    uniq_ratio = F.round(F.size(F.array_distinct(w)) * F.lit(1.0) / n_tokens, 6)
    avg_tok_len = F.round(alpha_chars * F.lit(1.0) / n_tokens, 6)
    stop_ratio = F.round(stop_hits * F.lit(1.0) / n_tokens, 6)
    return n_tokens, avg_tok_len, uniq_ratio, stop_ratio


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality scoring: length, mean token length, lexical
    diversity, stopword ratio — the standard cheap pre-filters."""
    n_tokens, avg_tok_len, uniq_ratio, stop_ratio = _quality_features(text_col)
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n_tokens >= 10) & (uniq_ratio >= 0.1) & (avg_tok_len <= 15.0)
        ).alias("is_quality"),
    )


def lang_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Stopword-hit language ID: score each language by stopword
    matches, pick the max (priority order breaks ties).

    ``carry_cols`` pass through unchanged (e.g. a ground-truth label
    for a confusion-matrix audit) — the predictor is map-only, so
    carrying columns through beats joining them back on the id."""
    w = _words(text_col)
    scores = {}
    for lang, stops in STOPWORDS.items():
        arr = F.array([F.lit(s) for s in stops])
        scores[lang] = F.size(F.filter(w, lambda x: F.array_contains(arr, x))).cast("bigint")
    best = F.greatest(*[scores[lang] for lang in LANG_PRIORITY])
    pred = None
    for lang in reversed(LANG_PRIORITY):
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(cond, F.lit(lang)).otherwise(pred)
    # reversed() + otherwise-chaining makes the FIRST priority language
    # win ties (en before de before ...)
    sel = [F.col(id_col)] + [F.col(c) for c in carry_cols]
    for lang in LANG_PRIORITY:
        sel.append(scores[lang].alias(f"score_{lang}"))
    sel.append(pred.alias("lang_pred"))
    return df.select(*sel)


FP_MULT = 1000003
FP_MOD = 2147483647


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint.

    Each word maps to a small portable integer (first/last char codes +
    length), folded left-to-right as ``acc = (acc*1000003 + wi) mod
    (2^31-1)``.  Portable on purpose (ascii/reverse/length exist in any
    SQL engine) so the oracle can verify; a production pipeline would
    swap the word hash for xxhash64 with the identical fold shape."""
    w = _words(text_col)
    word_ints = F.transform(
        w,
        lambda x: (
            F.ascii(x).cast("bigint") * 65536
            + F.ascii(F.reverse(x)).cast("bigint") * 256
            + F.length(x).cast("bigint")
        ),
    )
    fp = F.aggregate(
        word_ints,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * FP_MULT + x) % FP_MOD,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


# fixed demo weights for model_score — stands in for an offline-trained
# quality classifier; real weights would load from a model artifact and
# broadcast exactly the same way (constant-size driver state)
MODEL_WEIGHTS = {
    "bias": -3.0,
    "n_tokens": 0.02,
    "avg_token_len": 0.25,
    "uniq_ratio": 2.0,
    "stopword_ratio": -3.0,
}


def model_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distributed linear-model inference: featurize each document
    (same features as :func:`quality_scores`), apply literal weights,
    squash with a sigmoid.  The 100 TB model-scoring shape — weights
    are constant driver state compiled into the plan, inference is a
    map-only JVM pass (no shuffle, no Python, no per-row model call);
    a real classifier head (logistic regression over quality features)
    differs only in where the weights come from.

    Returns (id, score, prob, keep) — ``keep`` at prob >= 0.5."""
    W = MODEL_WEIGHTS
    n_tokens, avg_tok_len, uniq_ratio, stop_ratio = _quality_features(text_col)
    # the dot product runs in DECIMAL so the sum is EXACT (float
    # summation rounds per-op and engines may fuse differently —
    # decimal math is the only cross-engine-bit-stable path, same as
    # the money-aggregate convention); the sigmoid then starts from
    # the identical rounded double on every engine
    # asymmetric precisions keep the products EXACT at scale 12:
    # (12,6)·(21,6) → decimal(34,12), inside the 38-digit cap, so no
    # precision-loss rounding — while the (21,6) feature cast holds
    # documents up to 10^15 tokens (a (12,6) feature cast overflowed —
    # ANSI abort — at one million tokens)
    def dec_w(c):
        return c.cast("decimal(12,6)")

    def dec_f(c):
        return c.cast("decimal(21,6)")

    raw = (
        dec_w(F.lit(W["bias"]))
        + dec_w(F.lit(W["n_tokens"])) * dec_f(n_tokens)
        + dec_w(F.lit(W["avg_token_len"])) * dec_f(avg_tok_len)
        + dec_w(F.lit(W["uniq_ratio"])) * dec_f(uniq_ratio)
        + dec_w(F.lit(W["stopword_ratio"])) * dec_f(stop_ratio)
    )
    score = F.round(raw, 6).cast("double")
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6)
    return df.select(
        F.col(id_col),
        score.alias("score"),
        prob.alias("prob"),
        (prob >= 0.5).alias("keep"),
    )


def normalize_text(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Canonical text normalization before near-exact dedup: lowercase,
    strip everything outside [a-z0-9 ], collapse whitespace runs, trim.

    Map-only (three codegen string expressions, zero shuffles); the
    regex classes are RE2-compatible so Java regex (Spark) and RE2
    (DuckDB oracle) agree byte-for-byte.  Casing/punctuation variants
    of the same content normalize to identical strings — the
    "near-exact" dedup key that plain hashing misses.  Returns
    (id, norm_text).
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return df.select(F.col(id_col), norm.alias("norm_text"))


def exact_dedup_normalized(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Near-exact duplicate groups: exact dedup AFTER normalization.

    Same one-shuffle hash-groupBy shape as plain exact dedup, but
    grouped on a fixed-width digest of the normalized text so the
    shuffle carries 32-byte keys, never document bodies — the
    practical first pass of every dedup cascade (catches re-encoded /
    re-cased / re-punctuated copies that byte-exact dedup misses,
    orders of magnitude cheaper than MinHash).  Returns one row per
    duplicate GROUP (>= 2 members): (digest, n_dups, keep_id) with
    keep_id the lowest member id.
    """
    # NULL text carries no content: sha2(NULL) is NULL and groupBy
    # buckets NULL digests together, so unrelated NULL-text docs would
    # form one bogus "duplicate" group whose members a downstream
    # consumer then deletes — exclude them from dup detection entirely
    normed = normalize_text(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col
    )
    return (
        normed.select(
            F.col(id_col),
            F.sha2(F.col("norm_text"), 256).alias("digest"),
        )
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def word_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram (word) Shannon entropy in nats — the
    standard gibberish/boilerplate signal: near-zero entropy means one
    token dominates (repetition spam), high entropy with low stopword
    ratio suggests noise.

    Documents whose text is NULL produce no token rows and are absent
    from the output (as in the SQL twin) — LEFT-join the result back if
    every doc id must appear.  Two bounded-key aggregates (doc×word
    counts, then per-doc fold);
    each term ``-p·ln(p)`` is computed in double with a fixed operand
    order, rounded to 9 dp and summed as DECIMAL — order-independent
    and engine-portable (the BM25 convention).  Returns (id, n_tokens,
    n_distinct, entropy) with entropy rounded to 6 dp.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    counts = tok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    p = F.col("c") / F.col("n")
    term = F.round(-(p * F.log(p)), 9).cast("decimal(18,9)")
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )


def bigram_perplexity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed bigram LM
    trained on the corpus itself — the classic perplexity-filtering
    quality signal (docs the corpus LM finds surprising are usually
    noise; docs it finds too predictable are boilerplate).

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V).  Plan shape: bigrams are
    a map-only array transform (no positional self-join); model counts
    are two bounded-key aggregates ((w1,w2) and w1 — partial-agg
    combine before the exchange); scoring joins each doc bigram to the
    model on its own key — an inverted-index-style keyed join, cost ∝
    corpus bigrams, and the vocabulary scalar is a 1-row broadcast.
    Per-term -ln P is rounded to 9 dp and summed as DECIMAL (the BM25
    convention) so the fold is order-independent; perplexity =
    exp(avg_nll) rounded to 6.  Returns (id, n_bigrams, avg_nll,
    perplexity).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(w) >= 2, transform(sequence(0, size(w) - 2), "
                "i -> struct(w[i] AS w1, w[i + 1] AS w2)), "
                "array())"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    cp = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("cp"))
    vocab = base.select(F.explode("w").alias("word")).agg(
        F.count_distinct("word").cast("bigint").alias("v")
    )
    term = F.round(
        -F.log((F.col("cb") + F.lit(1.0)) / (F.col("cp") + F.col("v"))), 9
    ).cast("decimal(18,9)")
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(cp, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(term).alias("_nll"),
        )
    )
    avg_nll = F.col("_nll").cast("double") / F.col("n_bigrams")
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(avg_nll, 6).alias("avg_nll"),
        F.round(F.exp(avg_nll), 6).alias("perplexity"),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Gopher/MassiveText-style document quality rules (Rae et al.
    2021, table A1 shape): 50 to 100,000 words, mean word length 3 to
    10, at least 80 % alphabetic words, at least 2 distinct stop
    words, a top-word share of at most 20 % (the single-line stand-in
    for the duplicate-line fraction), and at most 0.1 symbols ('#' and
    '...') per word.

    Every metric is a per-row higher-order-function expression over
    the token array — JVM codegen, map-only, no shuffle, no UDF — so
    the filter runs at scan speed at any scale and every value is
    reproducible in the SQL oracle.  The top-word ratio folds
    count-per-distinct-token inside the row (O(distinct·n) per doc —
    bounded by document length, not data size).  Returns the metric
    columns, one boolean per rule, and the final ``passes_gopher``.
    """
    w = _words(text_col)
    n_words = F.size(w).cast("bigint")
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.round(sum_len * F.lit(1.0) / n_words, 6)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("bigint")
    alpha_frac = F.round(n_alpha * F.lit(1.0) / n_words, 6)
    sw = F.array([F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(w), sw)).cast("bigint")
    top_count = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda d: F.size(F.filter(w, lambda x: x == d)),
        )
    ).cast("bigint")
    top_ratio = F.round(top_count * F.lit(1.0) / n_words, 6)
    n_symbols = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.")).cast("bigint")
    symbol_ratio = F.round(n_symbols * F.lit(1.0) / n_words, 6)
    rules = {
        "rule_word_count": (n_words >= 50) & (n_words <= 100_000),
        "rule_mean_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "rule_alpha_words": alpha_frac >= 0.80,
        "rule_stopwords": stop_hits >= 2,
        "rule_top_word": top_ratio <= 0.20,
        "rule_symbol_ratio": symbol_ratio <= 0.10,
    }
    passes = None
    for expr in rules.values():
        passes = expr if passes is None else (passes & expr)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        top_ratio.alias("top_word_ratio"),
        symbol_ratio.alias("symbol_ratio"),
        *[expr.alias(name) for name, expr in rules.items()],
        passes.alias("passes_gopher"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 shape): keep
    only lines that have at least 5 words, end in terminal
    punctuation, and contain no boilerplate markers ("lorem ipsum",
    "javascript", '{'); drop the whole document when fewer than 3
    lines survive.

    The line-level twin of :func:`gopher_rules` — C4 cleans INSIDE the
    document before doc-level rules run.  One higher-order filter over
    the split line array plus an array_join to re-assemble the kept
    text: per-row JVM codegen, map-only, no shuffle, no UDF, and the
    re-assembled ``filtered_text`` is byte-reproducible in the SQL
    oracle.  Lines split on the REGEX ``\r?\n`` so CRLF web text
    splits cleanly — splitting on bare ``\n`` would leave a trailing
    ``\r`` on every line, which Java's ``$`` matches before but RE2's
    does not (a silent Spark/DuckDB divergence), and the stray byte
    would survive into ``filtered_text``; kept lines re-join with a
    literal ``\n``.  Returns (id, n_lines, n_kept, kept_ratio,
    filtered_text, dropped).
    """
    lines = F.split(F.col(text_col), r"\r?\n")

    def keep(line: Column) -> Column:
        lower = F.lower(line)
        return (
            (F.size(F.split(line, " ")) >= 5)
            & line.rlike('[.!?"]$')
            & ~lower.contains("lorem ipsum")
            & ~lower.contains("javascript")
            & ~line.contains("{")
        )

    kept = F.filter(lines, keep)
    n_lines = F.size(lines).cast("bigint")
    n_kept = F.size(kept).cast("bigint")
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        F.round(n_kept * F.lit(1.0) / n_lines, 6).alias("kept_ratio"),
        F.array_join(kept, "\n").alias("filtered_text"),
        (n_kept < 3).alias("dropped"),
    )


#: :func:`cdc_chunks` and its oracle :func:`cdc_chunks_sql` hash this
#: many trailing characters and cut where the hash is 0 mod this modulus
CDC_WINDOW, CDC_MODULUS = 4, 16


def cdc_chunks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rolling-hash family used
    by dedup storage and training-data pipelines): a chunk boundary
    falls after position ``i`` whenever the polynomial hash of the
    last ``CDC_WINDOW`` characters is 0 mod ``CDC_MODULUS`` — so boundaries
    move WITH the content, and an insertion early in a document only
    reshapes the chunks it touches instead of shifting every
    fixed-stride chunk after it (the property that makes chunk-level
    dedup robust to edits; contrast ``corpus_chunk_overlap``).

    The hash is windowed, not cumulative, so every position is
    computable independently: pure higher-order functions over the
    char positions, map-only, no shuffle — at 100 TB chunk emission is
    embarrassingly parallel.  All-integer arithmetic (31-powers of
    ascii codes), so the DuckDB twin (:func:`cdc_chunks_sql`)
    reproduces every boundary exactly.

    Returns (id, chunk_idx, chunk_start [1-based], chunk_len,
    chunk_text) for every document with at least one character."""
    window, modulus = CDC_WINDOW, CDC_MODULUS
    pows = [31 ** j for j in range(window)]
    # hash from a MATERIALIZED char-code array: substring(text, i, 1)
    # seeks from the string start, so hashing via substring is O(n²)
    # per document (measured 15.3 s -> 2.5 s at sf1 for the chunker);
    # element_at on the array is O(1)
    h = " + ".join(
        f"{p} * element_at(_codes, i - {j})"
        for j, p in enumerate(pows)
    )
    positions = (
        f"CASE WHEN length({text_col}) >= {window} THEN "
        f"  filter(sequence({window}, length({text_col})), "
        f"         i -> ({h}) % {modulus} = 0) "
        f"ELSE array() END"
    )
    bounds = (
        f"CASE WHEN array_contains(_pos, length({text_col})) THEN _pos "
        f"ELSE concat(_pos, array(length({text_col}))) END"
    )
    # per-bound chunk struct; Spark's indexed lambda k is 0-based and
    # element_at is 1-based, so element_at(_bounds, k) IS the previous
    # bound for k >= 1
    chunks = (
        "transform(_bounds, (b, k) -> named_struct("
        " 'chunk_idx', CAST(k AS BIGINT),"
        " 'chunk_start', CAST(CASE WHEN k = 0 THEN 1 "
        "                     ELSE element_at(_bounds, k) + 1 END AS BIGINT),"
        " 'b', CAST(b AS BIGINT)))"
    )
    return (
        df.filter(F.length(text_col) >= 1)
        .select(F.col(id_col), F.col(text_col),
                F.expr(f"transform(split({text_col}, ''), c -> ascii(c))")
                .alias("_codes"))
        .select(F.col(id_col), F.col(text_col),
                F.expr(positions).alias("_pos"))
        .select(F.col(id_col), F.col(text_col),
                F.expr(bounds).alias("_bounds"))
        .select(F.col(id_col), F.col(text_col),
                F.explode(F.expr(chunks)).alias("c"))
        .select(
            F.col(id_col),
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_start").alias("chunk_start"),
            (F.col("c.b") - F.col("c.chunk_start") + 1)
            .cast("bigint").alias("chunk_len"),
            F.expr(
                f"substring({text_col}, c.chunk_start, "
                f"c.b - c.chunk_start + 1)").alias("chunk_text"),
        )
    )


def cdc_chunks_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`cdc_chunks` — identical windowed
    polynomial hash; DuckDB's indexed list lambdas are 1-based where
    Spark's are 0-based, so each side spells its own convention."""
    window, modulus = CDC_WINDOW, CDC_MODULUS
    pows = [31 ** j for j in range(window)]
    h = " + ".join(
        f"{p} * ascii(substr({text_col}, i - {j}, 1))"
        for j, p in enumerate(pows)
    )
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col},
         CAST(length({text_col}) AS BIGINT) AS n
  FROM {table} WHERE length({text_col}) >= 1
), pos AS (
  SELECT {id_col}, {text_col}, n,
         CASE WHEN n >= {window} THEN
           list_filter(generate_series({window}, n),
                       i -> ({h}) % {modulus} = 0)
         ELSE [] END AS p
  FROM base
), bnd AS (
  SELECT {id_col}, {text_col}, n,
         CASE WHEN list_contains(p, n) THEN p
              ELSE list_append(p, n) END AS bounds
  FROM pos
), ch AS (
  SELECT {id_col}, {text_col}, bounds,
         unnest(list_transform(bounds, (b, k) -> {{
           'chunk_idx': CAST(k - 1 AS BIGINT),
           'chunk_start': CAST(CASE WHEN k = 1 THEN 1
                               ELSE bounds[k - 1] + 1 END AS BIGINT),
           'b': CAST(b AS BIGINT)}})) AS c
  FROM bnd
)
SELECT {id_col},
       c.chunk_idx AS chunk_idx,
       c.chunk_start AS chunk_start,
       c.b - c.chunk_start + 1 AS chunk_len,
       substr({text_col}, CAST(c.chunk_start AS INT),
              CAST(c.b - c.chunk_start + 1 AS INT)) AS chunk_text
FROM ch
"""


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_stopwords: int = 10,
    top: int = 20,
) -> DataFrame:
    """RAKE-style keyword scoring with a DATA-DRIVEN stopword list:
    the ``n_stopwords`` most frequent corpus words (ties on the word)
    play the stopword role, candidate phrases are the maximal runs of
    non-stop words between them, and each word scores
    ``degree = Σ len(phrase)`` over the phrases containing it, with
    ``ratio = degree / freq`` (the RAKE ranking signal) as one fixed
    IEEE division over exact integer counts.

    Scale shape: the stopword list is one bounded corpus aggregate
    broadcast everywhere; phrase segmentation is a per-document
    running count of stopword boundaries (document-partitioned
    window, never global); both score terms are map-side-combinable
    aggregates.  Returns top-``top`` (word, freq, degree, ratio) by
    (degree, word)."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " "))
        .alias("pos", "word"),
    ).filter(F.col("word") != "")
    stop = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(n_stopwords)
        .select("word", F.lit(1).alias("is_stop"))
    )
    marked = words.join(F.broadcast(stop), "word", "left")
    w = Window.partitionBy("doc").orderBy("pos")
    seg = marked.select(
        "doc", "word", "is_stop",
        F.sum(F.coalesce("is_stop", F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("phrase_id"),
    ).filter(F.col("is_stop").isNull())
    phrase_len = seg.groupBy("doc", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen"))
    scored = (
        seg.join(phrase_len, ["doc", "phrase_id"])
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"),
             F.sum("plen").cast("bigint").alias("degree"))
    )
    return (
        scored.select(
            "word", "freq", "degree",
            (F.col("degree").cast("double")
             / F.col("freq").cast("double")).alias("ratio"),
        )
        .orderBy(F.desc("degree"), F.asc("word"))
        .limit(top)
    )


#: :func:`winnowing_fingerprints` and its oracle :func:`winnowing_sql`
#: hash char grams of this length and keep the minimum of each window
#: of this many consecutive gram hashes
WINNOW_K, WINNOW_WINDOW = 5, 4


def winnowing_fingerprints(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every char ``k``-gram
    (``k = WINNOW_K``), slide a window of ``w = WINNOW_WINDOW``
    consecutive gram hashes over the document, and select the MINIMUM
    hash of each window (rightmost position on ties).  The selected
    (position, hash) pairs — deduplicated — are the document's
    fingerprints: any shared substring of length >= k + w - 1 between
    two documents is GUARANTEED to share at least one fingerprint,
    while only ~2/(w+1) of all grams are kept.  That guarantee +
    sparsity is what makes fingerprint posting-list joins a sound
    near-dup/plagiarism candidate generator at 100 TB (contrast
    MinHash, which is probabilistic).

    The gram hash is the CDC chunker's integer convention (31-powers
    of char codes over a materialized char-code array — element_at is
    O(1) where substring re-seeks) mixed by a Knuth multiplicative
    step: ``(raw * 2654435761) % 2^30``.  Raw <= 255·Σ31^j ~ 2.4e8, so
    the product stays under 2^63 — all-integer, so the DuckDB twin
    (:func:`winnowing_sql`) reproduces every fingerprint exactly.

    Map-only selection (higher-order functions, no shuffle); the
    trailing DISTINCT on (id, pos, hash) is the only exchange and is
    map-side combined.  Returns (id, fp_pos [1-based gram END
    position], fp_hash)."""
    k, window = WINNOW_K, WINNOW_WINDOW
    pows = [31 ** j for j in range(k)]
    raw = " + ".join(
        f"{p} * element_at(_codes, p - {j})" for j, p in enumerate(pows)
    )
    hashes = (
        f"transform(sequence({k}, length({text_col})), "
        f"p -> ((({raw})) * 2654435761) % 1073741824)"
    )
    n_win = f"size(_hh) - {window} + 1"
    # UNROLLED window scan (w is a small constant): least() of w
    # scalars + a rightmost-match CASE ladder instead of
    # array_min(slice(...)) + filter() — the nested-array form
    # allocates a slice and re-evaluates the min per probe inside an
    # interpreted lambda (measured 29 s -> ~4 s at sf1, 5k docs)
    elems = [f"element_at(_hh, t + {d})" for d in range(window)]
    # the window-min expression is inlined directly everywhere it is
    # needed (r09 ADVICE: a post-hoc substring .replace("_m", ...)
    # would silently corrupt any future identifier containing "_m")
    win_min = "(least(" + ", ".join(elems) + "))"
    pos_ladder = " ".join(
        f"WHEN {elems[d]} = {win_min} THEN t + {d}"
        for d in range(window - 1, 0, -1)
    )
    fps = (
        f"CASE WHEN {n_win} >= 1 THEN "
        f"transform(sequence(1, {n_win}), t -> named_struct("
        f" 'fp_pos', CAST((CASE {pos_ladder} ELSE t END) + {k - 1} "
        f"           AS BIGINT),"
        f" 'fp_hash', CAST({win_min} AS BIGINT))) "
        f"ELSE array() END"
    )
    # parallelize the (CPU-heavy) gram-hash + window-min transform:
    # small corpora often arrive as ONE input split (the sf fixtures
    # are single parquet files), which serializes the whole scan-stage
    # transform on a single task — measured 4.0 s -> 1.0 s warm at
    # sf0.1 with the spread.  Hash-partitioning on the id ALSO
    # pre-clusters for the trailing (id, pos, hash) distinct, so that
    # exchange is satisfied for free (same rationale as
    # dedup.shingles; explicit count because AQE would coalesce a
    # column-only repartition of a small input back to 1-2 partitions)
    base = df.filter(F.length(text_col) >= k + window - 1)
    from ..sources.catalog import spread_input

    base = spread_input(base, F.col(id_col))
    return (
        base
        .select(F.col(id_col), F.col(text_col),
                F.expr(f"transform(split({text_col}, ''), c -> ascii(c))")
                .alias("_codes"))
        .select(F.col(id_col), F.expr(hashes).alias("_hh"))
        .select(F.col(id_col), F.explode(F.expr(fps)).alias("f"))
        .select(F.col(id_col), F.col("f.fp_pos").alias("fp_pos"),
                F.col("f.fp_hash").alias("fp_hash"))
        .distinct()
    )


def winnowing_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`winnowing_fingerprints` — identical
    integer gram hash and min-of-window selection; DuckDB's
    generate_series is empty on start > stop (Spark's sequence
    DESCENDS, hence the CASE guard on the Spark side)."""
    k, window = WINNOW_K, WINNOW_WINDOW
    pows = [31 ** j for j in range(k)]
    raw = " + ".join(
        f"{p} * ascii(substr({text_col}, p - {j}, 1))"
        for j, p in enumerate(pows)
    )
    win_min = f"list_min(list_slice(hh, t, t + {window - 1}))"
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col}
  FROM {table} WHERE length({text_col}) >= {k + window - 1}
), grams AS (
  SELECT {id_col},
         list_transform(generate_series({k}, length({text_col})),
                        p -> ((({raw})) * 2654435761) % 1073741824) AS hh
  FROM base
), sel AS (
  SELECT {id_col},
         unnest(list_transform(
           generate_series(1, len(hh) - {window} + 1),
           t -> {{
             'fp_pos': CAST(list_max(list_filter(
                 generate_series(t, t + {window - 1}),
                 u -> hh[u] = {win_min})) + {k - 1} AS BIGINT),
             'fp_hash': CAST({win_min} AS BIGINT)}})) AS f
  FROM grams
)
SELECT DISTINCT {id_col}, f.fp_pos AS fp_pos, f.fp_hash AS fp_hash
FROM sel
"""


#: the "trained" quality model shipped with the library: integer
#: micro-weights (millionths) so inference is exact integer
#: arithmetic end to end.  In production these come from a logistic
#: regression trained offline; swapping them is a config change, not
#: a plan change.
QUALITY_WEIGHTS = {
    "bias": -500_000,      # micro-units
    "per_token": 10_000,   # per token, capped at token_cap
    "token_cap": 100,
    "stop_w": 500,         # × stop_ppm / 1000 (stopwords: quality UP)
    "punct_w": 1_000,      # × punct_ppm / 1000 (subtracted)
    "digit_w": 1_000,      # × digit_ppm / 1000 (subtracted)
}

_STOPWORDS = ("a", "an", "the", "and", "of", "to", "in", "is", "on",
              "for", "with", "that")


def logistic_quality_score(df, id_col: str, text_col: str,
                           weights: "dict | None" = None):
    """Quality-model inference as a map-only expression with broadcast
    weights — the production shape of model-based corpus filtering at
    100 TB.

    A trained logistic regression over cheap lexical features
    (token count, stopword ratio, punctuation ratio, digit ratio) is
    evaluated entirely inside whole-stage codegen: the weights are
    Catalyst literals, so they ship to every executor with the plan —
    no Python in the row path, no shuffle, no join.  The linear term
    is computed in exact integer micro-units (ratios as ppm via
    integer division), so ``keep = z_micro > 0`` — equivalent to
    ``sigmoid(z) > 0.5`` by monotonicity — has no float threshold
    boundary and is value-oracle-checkable.

    All integer divisions keep nonnegative operands (weights applied
    as explicit adds/subtracts), so truncating and flooring division
    agree between engines.  Returns (doc_id, z_micro, keep).
    """
    w = dict(QUALITY_WEIGHTS, **(weights or {}))
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    # every count is cast to BIGINT before the ppm multiplies below:
    # size()/length() return 32-bit INT, and n_stop * 1000000 overflows
    # INT under ANSI mode for any doc with > 2147 stopword tokens —
    # exactly the large documents the 100 TB path exists for
    feats = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"CAST(size(split({text_col}, ' ')) AS BIGINT)")
            .alias("n_tokens"),
            F.length(text_col).cast("bigint").alias("n_chars"),
            F.expr(f"CAST(size(filter(split({text_col}, ' '), "
                   f"t -> t IN ({stop_list}))) AS BIGINT)").alias("n_stop"),
            (F.length(text_col)
             - F.length(F.regexp_replace(F.col(text_col),
                                         r"[.,;:!?]", "")))
            .cast("bigint").alias("n_punct"),
            (F.length(text_col)
             - F.length(F.regexp_replace(F.col(text_col),
                                         r"[0-9]", "")))
            .cast("bigint").alias("n_digit"),
        )
    )
    z = (
        f"CAST({w['bias']} "
        f"+ {w['per_token']} * LEAST(n_tokens, {w['token_cap']}) "
        f"+ ({w['stop_w']} * ((n_stop * 1000000) DIV n_tokens)) DIV 1000 "
        f"- ({w['punct_w']} * ((n_punct * 1000000) "
        f"DIV GREATEST(n_chars, 1))) DIV 1000 "
        f"- ({w['digit_w']} * ((n_digit * 1000000) "
        f"DIV GREATEST(n_chars, 1))) DIV 1000 AS BIGINT)"
    )
    return feats.select(
        "doc_id", F.expr(z).alias("z_micro"),
    ).withColumn("keep", F.col("z_micro") > 0)


def boilerplate_span_coverage(df, id_col: str, text_col: str,
                              k: int = 8, min_df: int = 2):
    """Cross-document boilerplate detection by span coverage: word
    k-grams appearing in >= ``min_df`` distinct documents are
    "boilerplate spans" (templated headers/footers, licence blocks,
    navigation text — the RefinedWeb/C4-style strip step generalized
    to span level), and each document reports how many of its token
    positions any such span covers.

    Plan: one positional-gram pass, a gram-keyed distinct-doc count
    (the boilerplate dictionary — vocabulary-sized, NOT broadcast),
    a sort-merge join of postings against the hot grams, a k-wide
    position explode, and a doc-keyed distinct count.  Every stage is
    corpus-linear; the k-fold position fanout is bounded by k × hot
    occurrences, which the min_df threshold keeps to the templated
    tail.  Exact integers end to end.

    Returns (doc_id, n_tokens, n_covered, boiler_ppm) for every
    non-null-text document — zero coverage included, so the output
    partitions the corpus."""
    from .dedup import positional_grams

    base = df.filter(F.col(text_col).isNotNull())
    toks = base.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"CAST(size(split({text_col}, ' ')) AS BIGINT)")
        .alias("n_tokens"))
    # two downstream consumers (hot-gram dictionary + coverage join)
    # re-read this corpus-sized repartition+transform; materialize
    # eagerly like the dedup shingle sites (module-wide pattern —
    # localCheckpoint cuts the lineage, cluster caveat in dedup.py)
    pg = positional_grams(base, id_col, text_col, k=k).localCheckpoint(
        eager=True)
    hot = (pg.select("doc", "gram").distinct()
           .groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
           .filter(F.col("gdf") >= min_df).select("gram"))
    # sort-merge: both sides are corpus/vocabulary-sized (the
    # uncapped-join rule from the prefix-filter sf10 OOM)
    covered = (pg.hint("merge").join(hot.hint("merge"), "gram")
               .select("doc", F.explode(
                   F.expr(f"sequence(pos, pos + {k - 1})")).alias("p"))
               .distinct()
               .groupBy(F.col("doc").alias("doc_id"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_covered")))
    return (toks.join(covered, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_covered", F.lit(0)).cast("bigint")
                    .alias("n_covered"),
                    F.expr("(coalesce(n_covered, 0) * 1000000) "
                           "DIV n_tokens")
                    .cast("bigint").alias("boiler_ppm")))
