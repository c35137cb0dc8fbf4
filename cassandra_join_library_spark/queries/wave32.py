"""Round-12 wave: tokenizer drift audits across corpus snapshots
(r11 verdict ask #5's named pairing of ``corpus_bpe_fertility`` with
``profile_histogram_l1_drift``) — the "has the new crawl outgrown the
shipped tokenizer?" readout a 100 TB pipeline runs before paying for
a retrain:

- ``tokenizer_fertility_drift``: BPE merges trained on the PRIOR
  snapshot only (even doc_ids — the wave-27 snapshot convention),
  both snapshots encoded with that frozen symbol table, per-language
  fertility side by side with the signed ppm drift and a retrain
  verdict.  OOV words cost len+1 character tokens, so vocabulary
  turnover surfaces as rising fertility — the exact failure mode the
  audit exists to catch.
- ``tokenizer_oov_drift``: the cheap leading indicator — OOV
  occurrence mass against the prior snapshot's top-2000 dictionary,
  per language and side.  No merge training at all, so it can run on
  every crawl; fertility drift is the confirmatory (costlier) audit.

Both are one tagged corpus pass joined against a broadcast
dictionary + a domain-bounded (snap, class) aggregate — no pair
space, no data-sized windows.  Extension surface (SURVEY.md §2.6);
exact-value DuckDB oracles (integer ppm arithmetic throughout, the
BPE training replayed unrolled via ``_bpe_sql``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.bpe import bpe_fertility_drift, vocab_oov_drift
from ..registry import register
from ..sources.catalog import load_table
from ._bpe_sql import bpe_fertility_drift_sql, vocab_oov_drift_sql

#: wave-27 snapshot convention: prior corpus = even doc_ids, new
#: crawl = odd doc_ids
_A_WHERE = "doc_id % 2 = 0"
_B_WHERE = "doc_id % 2 = 1"

#: |drift| >= 5% of a token-per-word (50k ppm) flags a retrain — the
#: knob a real pipeline tunes against its retrain budget
_RETRAIN_PPM = 50_000


def _tagged(docs):
    return docs.withColumn(
        "snap",
        F.when(F.col("doc_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")),
    )


@register("tokenizer_fertility_drift", oracle=bpe_fertility_drift_sql(
    n_merges=8, top_words=2000, a_where=_A_WHERE, b_where=_B_WHERE,
    retrain_ppm=_RETRAIN_PPM))
def tokenizer_fertility_drift(spark, sf_dir):
    """Per-language BPE fertility drift, prior snapshot vs new crawl,
    under the prior snapshot's frozen 8-merge symbol table
    (operators/bpe.py bpe_fertility_drift).  The training corpus-pass
    is one word-count shuffle; encoding both snapshots is ONE tagged
    corpus pass against the broadcast vocab."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility_drift(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0),
        _tagged(docs), "text", "lang",
        n_merges=8, top_words=2000, retrain_ppm=_RETRAIN_PPM)


@register("tokenizer_oov_drift", oracle=vocab_oov_drift_sql(
    top_words=2000, a_where=_A_WHERE, b_where=_B_WHERE))
def tokenizer_oov_drift(spark, sf_dir):
    """Per-language OOV-mass drift against the prior snapshot's
    top-2000 dictionary (operators/bpe.py vocab_oov_drift) — the
    merge-free leading indicator of tokenizer_fertility_drift."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_oov_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        _tagged(docs), "text", "lang", top_words=2000)
