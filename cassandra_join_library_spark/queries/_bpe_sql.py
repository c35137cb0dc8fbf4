"""Unrolled-iteration SQL twin of ``operators.bpe.bpe_train``.

Same macro-unrolling trick as ``_kmeans_sql``: the merge count is a
fixed parameter, so each iteration becomes a CTE chain
(pair-count → argmax → occurrence islands → greedy-kept parity →
rewritten symbol table).  Everything is integer counts and string
comparisons — no floats — so DuckDB reproduces every merge decision
bit-for-bit, including the lexicographic (left, right) tie-break and
the even-offset-within-run rule for overlapping same-symbol pairs
(SQL expresses the greedy fold as gaps-and-islands + odd row_number,
which is equivalent for ascending occurrence positions).
"""

from __future__ import annotations

from ..operators.bpe import BPE_MERGES, BPE_TOP_WORDS, RETRAIN_PPM

#: the snapshot split of the drift oracles: prior corpus = even
#: doc_ids, new crawl = odd doc_ids (the dedup_cross_snapshot convention)
_A_WHERE = "doc_id % 2 = 0"
_B_WHERE = "doc_id % 2 = 1"


def bpe_train_sql(n_merges: int = BPE_MERGES,
                  top_words: int = BPE_TOP_WORDS) -> str:
    parts = _bpe_ctes(n_merges, top_words, "documents")
    selects = [
        f"SELECT CAST({t + 1} AS BIGINT) AS step, la AS merge_left,"
        f" lb AS merge_right, cnt AS pair_count FROM best{t}"
        for t in range(n_merges)
    ]
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY step"
    )


def bpe_encode_sql() -> str:
    """Oracle for ``bpe_encode_counts``: per doc (n_words,
    n_bpe_tokens) under the trained symbol table; OOV words cost
    len + 1 character tokens."""
    parts = _bpe_ctes(BPE_MERGES, BPE_TOP_WORDS, "documents")
    parts.append(f"""vocab_tok AS MATERIALIZED (
  SELECT wd.word, CAST(COUNT(*) AS BIGINT) AS n_sym
  FROM w{BPE_MERGES} w JOIN wids wd ON wd.wid = w.wid
  GROUP BY wd.word
)""")
    parts.append("""doc_words AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents)
  WHERE regexp_matches(word, '^[a-z]+$')
)""")
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(coalesce(v.n_sym, length(d.word) + 1)) AS BIGINT)
         AS n_bpe_tokens
FROM doc_words d LEFT JOIN vocab_tok v ON v.word = d.word
GROUP BY d.doc_id"""
    )


def _word_vocab_sql(table: str, top_words: int) -> str:
    """The top-N training-dictionary SQL over ``table``'s ``text`` —
    the ONE copy of the tokenization + tie-break convention (mirrors
    ``operators.bpe.build_word_vocab``), shared by the merge-training
    CTE chain and the merge-free OOV oracle."""
    return f"""SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM {table})
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word ORDER BY freq DESC, word ASC LIMIT {top_words}"""


def _bpe_ctes(n_merges: int, top_words: int, table: str) -> "list[str]":
    parts = [
        f"""words AS MATERIALIZED (
  {_word_vocab_sql(table, top_words)}
)""",
        """wids AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY word) AS wid, word, freq FROM words
)""",
        """w0 AS MATERIALIZED (
  SELECT wid, freq, CAST(i AS BIGINT) AS pos,
         CASE WHEN i <= length(word) THEN word[i] ELSE '</w>' END AS sym
  FROM wids, UNNEST(generate_series(1, length(word) + 1)) AS t(i)
)""",
    ]
    for t in range(n_merges):
        parts.append(f"""p{t} AS MATERIALIZED (
  SELECT a.sym AS la, b.sym AS lb, CAST(SUM(a.freq) AS BIGINT) AS cnt
  FROM w{t} a JOIN w{t} b ON b.wid = a.wid AND b.pos = a.pos + 1
  GROUP BY 1, 2
)""")
        parts.append(f"""best{t} AS MATERIALIZED (
  SELECT la, lb, cnt FROM p{t} ORDER BY cnt DESC, la ASC, lb ASC LIMIT 1
)""")
        parts.append(f"""occ{t} AS MATERIALIZED (
  SELECT a.wid, a.pos
  FROM w{t} a
  JOIN w{t} b ON b.wid = a.wid AND b.pos = a.pos + 1
  CROSS JOIN best{t} s
  WHERE a.sym = s.la AND b.sym = s.lb
)""")
        # greedy fold == keep odd positions within each island of
        # consecutive occurrences (only same-symbol pairs make islands
        # longer than 1)
        parts.append(f"""kept{t} AS MATERIALIZED (
  SELECT wid, pos FROM (
    SELECT wid, pos,
           row_number() OVER (PARTITION BY wid, isl ORDER BY pos) AS k
    FROM (SELECT wid, pos,
                 pos - row_number() OVER (PARTITION BY wid ORDER BY pos) AS isl
          FROM occ{t})
  ) WHERE k % 2 = 1
)""")
        parts.append(f"""w{t + 1} AS MATERIALIZED (
  SELECT w.wid, w.freq,
         row_number() OVER (PARTITION BY w.wid ORDER BY w.pos) AS pos,
         CASE WHEN k.pos IS NOT NULL THEN w.sym || nx.sym ELSE w.sym END AS sym
  FROM w{t} w
  LEFT JOIN kept{t} k ON k.wid = w.wid AND k.pos = w.pos
  LEFT JOIN kept{t} k2 ON k2.wid = w.wid AND k2.pos = w.pos - 1
  LEFT JOIN w{t} nx ON nx.wid = w.wid AND nx.pos = w.pos + 1
  WHERE k2.pos IS NULL
)""")
    return parts


def bpe_fertility_sql() -> str:
    """Oracle for per-class BPE fertility: tokens-per-word under the
    trained symbol table, aggregated by ``lang`` (rounded ppm
    ratio — the tokenizer-efficiency readout per language)."""
    parts = _bpe_ctes(BPE_MERGES, BPE_TOP_WORDS, "documents")
    parts.append(f"""vocab_tok AS MATERIALIZED (
  SELECT wd.word, CAST(COUNT(*) AS BIGINT) AS n_sym
  FROM w{BPE_MERGES} w JOIN wids wd ON wd.wid = w.wid
  GROUP BY wd.word
)""")
    parts.append("""doc_words AS MATERIALIZED (
  SELECT doc_id, lang, word FROM (
    SELECT doc_id, lang,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents)
  WHERE regexp_matches(word, '^[a-z]+$')
)""")
    # per_class rows exist only for classes with >= 1 word, so the
    # empty-side NULL guard in _ppm_safe_sql never fires here — using
    # the shared formula keeps the rounding convention in ONE place
    rdiv = _ppm_safe_sql("n_bpe_tokens", "n_words")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
, per_class AS (
  SELECT d.lang AS class,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(coalesce(v.n_sym, length(d.word) + 1)) AS BIGINT)
           AS n_bpe_tokens
  FROM doc_words d LEFT JOIN vocab_tok v ON v.word = d.word
  GROUP BY 1
)
SELECT class, n_words, n_bpe_tokens,
       CAST({rdiv} AS BIGINT) AS fertility_ppm
FROM per_class"""
    )


# rounded ppm division guarded for an empty side — NULL, matching the
# Spark operator's _PPM_SAFE (a class present in only one snapshot)
def _ppm_safe_sql(a: str, b: str) -> str:
    return (f"CASE WHEN ({b}) = 0 THEN NULL ELSE "
            f"((1000000 * ({a})) // ({b})) + "
            f"(CASE WHEN 2 * ((1000000 * ({a})) % ({b})) >= ({b}) "
            f"THEN 1 ELSE 0 END) END")


def _wide_pivot_sql(measures: "list[str]") -> str:
    """The per_side → wide side pivot CTE (class × {a,b} conditional
    sums) — shared by both drift oracles so the side-attribution rule
    exists once."""
    cols = [
        f"CAST(SUM(CASE WHEN snap = '{side}' THEN {m} ELSE 0 END)\n"
        f"              AS BIGINT) AS {m}_{side}"
        for side in ("a", "b")
        for m in measures
    ]
    return ("wide AS (\n  SELECT class,\n         "
            + ",\n         ".join(cols)
            + "\n  FROM per_side GROUP BY 1\n)")


_TAGGED_WORDS_CTE = f"""tagged_words AS MATERIALIZED (
  SELECT snap, class, word FROM (
    SELECT 'a' AS snap, lang AS class,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents WHERE {_A_WHERE}
    UNION ALL
    SELECT 'b' AS snap, lang AS class,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents WHERE {_B_WHERE})
  WHERE regexp_matches(word, '^[a-z]+$')
)"""


def bpe_fertility_drift_sql() -> str:
    """Oracle for ``operators.bpe.bpe_fertility_drift``: train on the
    ``_A_WHERE`` snapshot, encode both snapshots with the frozen symbol
    table, per-class side-by-side fertility + signed drift."""
    parts = _bpe_ctes(BPE_MERGES, BPE_TOP_WORDS,
                      f"(SELECT * FROM documents WHERE {_A_WHERE})")
    parts.append(f"""vocab_tok AS MATERIALIZED (
  SELECT wd.word, CAST(COUNT(*) AS BIGINT) AS n_sym
  FROM w{BPE_MERGES} w JOIN wids wd ON wd.wid = w.wid
  GROUP BY wd.word
)""")
    parts.append(_TAGGED_WORDS_CTE)
    fa = _ppm_safe_sql("n_bpe_tokens_a", "n_words_a")
    fb = _ppm_safe_sql("n_bpe_tokens_b", "n_words_b")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
, per_side AS (
  SELECT t.snap, t.class,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(coalesce(v.n_sym, length(t.word) + 1)) AS BIGINT)
           AS n_bpe_tokens
  FROM tagged_words t LEFT JOIN vocab_tok v ON v.word = t.word
  GROUP BY 1, 2
), {_wide_pivot_sql(["n_words", "n_bpe_tokens"])}, scored AS (
  SELECT class, n_words_a, n_bpe_tokens_a, n_words_b, n_bpe_tokens_b,
         {fa} AS fa, {fb} AS fb
  FROM wide
)
SELECT class, n_words_a, n_bpe_tokens_a, CAST(fa AS BIGINT) AS fert_a_ppm,
       n_words_b, n_bpe_tokens_b, CAST(fb AS BIGINT) AS fert_b_ppm,
       CAST(fb - fa AS BIGINT) AS drift_ppm,
       abs(fb - fa) >= {RETRAIN_PPM} AS needs_retrain
FROM scored"""
    )


def vocab_oov_drift_sql() -> str:
    """Oracle for ``operators.bpe.vocab_oov_drift``: top-``BPE_TOP_WORDS``
    dictionary from the ``_A_WHERE`` snapshot, per-class OOV occurrence
    mass on both snapshots + signed drift."""
    oa = _ppm_safe_sql("n_oov_a", "n_words_a")
    ob = _ppm_safe_sql("n_oov_b", "n_words_b")
    return f"""WITH vocab AS MATERIALIZED (
  SELECT word FROM (
  {_word_vocab_sql(f"documents WHERE {_A_WHERE}", BPE_TOP_WORDS)})
),
{_TAGGED_WORDS_CTE}
, per_side AS (
  SELECT t.snap, t.class,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM tagged_words t LEFT JOIN vocab v ON v.word = t.word
  GROUP BY 1, 2
), {_wide_pivot_sql(["n_words", "n_oov"])}, scored AS (
  SELECT class, n_words_a, n_oov_a, n_words_b, n_oov_b,
         {oa} AS oa, {ob} AS ob
  FROM wide
)
SELECT class, n_words_a, n_oov_a, CAST(oa AS BIGINT) AS oov_a_ppm,
       n_words_b, n_oov_b, CAST(ob AS BIGINT) AS oov_b_ppm,
       CAST(ob - oa AS BIGINT) AS drift_ppm
FROM scored"""
