"""Bloom-filter join pruning.

The scale problem: joining a 100 TB fact table to a selective
dimension subset shuffles the ENTIRE fact side, even though only a
tiny fraction of its rows survive the join.  Spark's own runtime
row-level filtering (``spark.sql.optimizer.runtime.bloomFilter``)
injects exactly this optimization when statistics justify it; this
module is the explicit, always-available version for when the
pipeline author knows the join is selective.

Shape:

1. Build an m-bit Bloom filter over the dimension keys as a
   DISTRIBUTED aggregate — each key sets k bits; bits are OR-combined
   per 64-bit word with ``bit_or`` (associative, map-side partial
   aggregation applies).  The result is m/64 longs — CONSTANT size
   regardless of dimension cardinality — which is the one structure
   collected to the driver (same constant-size-state pattern as
   k-means centroids; README design rule 1).
2. Filter the fact side MAP-SIDE with a pure JVM expression over the
   broadcast-literal word array: k probes of
   ``element_at(words, pos/64) >> (pos%64) & 1``.  No shuffle of the
   fact table happens until after pruning.
3. Follow with the exact join: false positives (rate ~(1-e^{-kn/m})^k)
   are eliminated, so results are bit-identical to the plain join —
   the Bloom stage only removes shuffle volume.

The reference engine has no equivalent (it always materializes both
scan sides; ``/root/reference/cassandra_joinlib/hash_join.py:273-340``
hashes whatever the CQL scan returns).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: Column, num_bits: int, num_hashes: int) -> "list[Column]":
    """k independent bit positions for a key: seeded xxhash64 mod m."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _check_num_bits(num_bits: int) -> None:
    if num_bits <= 0 or num_bits % 64:
        # 0 passes a bare modulus check but makes the positions' pmod
        # an ANSI DIVIDE_BY_ZERO at execution; negatives likewise
        raise ValueError(
            f"num_bits must be a positive multiple of 64, got {num_bits}"
        )


def bloom_build(
    df: DataFrame,
    key: "Column | str",
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> "list[int]":
    """Aggregate the Bloom filter's 64-bit words over ``df[key]``.

    Distributed: the xxhash64 :func:`bloom_words_table` — one small
    shuffle of at most m/64 groups — collected to the driver.
    Returns the dense word list (length m/64, missing words zero).
    """
    words = bloom_words_table(df, key, num_bits, num_hashes,
                              portable=False).collect()
    dense = [0] * (num_bits // 64)
    for row in words:
        dense[row["w"]] = row["word"]
    return dense


def bloom_might_contain(
    key: "Column | str",
    words: "list[int]",
    num_hashes: int = 5,
) -> Column:
    """Membership-test expression over the built filter.

    ``words`` becomes an array literal in the plan (broadcast with the
    serialized task, like any literal); the k probes are
    shift/and/element_at — all whole-stage-codegen'd, no Python.

    The literal is a numpy int64 array, NOT a python list: ``F.lit``
    on a list compiles to a ``CreateArray`` with one child expression
    per element, re-CONSTRUCTED per input row — measured 4x slower at
    2^20 bits and growing linearly with filter size — while a numpy
    array becomes a single bound ``Literal``.  Even so, probe cost
    still grows past ~2^22 bits (plan/task-binary weight), so this
    literal path is for SMALL filters (selective dimension keys);
    corpus-sized membership stores use the flat-cost (w, word)-table
    path (:func:`bloom_words_table` + :func:`bloom_pass_keys`)."""
    import numpy as np

    key = F.col(key) if isinstance(key, str) else key
    num_bits = len(words) * 64
    lit_words = F.lit(np.asarray(words, dtype=np.int64))
    tests = []
    for p in _positions(key, num_bits, num_hashes):
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftright", word, (p % 64).cast("int")
        ).bitwiseAND(F.lit(1))
        tests.append(bit == 1)
    return reduce(lambda a, b: a & b, tests)


def bloom_prefilter(
    fact: DataFrame,
    fact_key: "Column | str",
    dim: DataFrame,
    dim_key: "Column | str",
) -> DataFrame:
    """Map-side prune ``fact`` to rows whose key MIGHT be in ``dim``,
    through a 2^16-bit filter with 5 hashes.

    Superset of the exact semi-join (never drops a matching row);
    follow with the real join for exact results."""
    words = bloom_build(dim, dim_key, 1 << 16, 5)
    return fact.filter(bloom_might_contain(fact_key, words, 5))


def _portable_positions(key: Column, num_bits: int,
                        num_hashes: int) -> "list[Column]":
    """k portable bit positions: 60-bit md5-prefix hashes with the
    ``i:`` seed-prefix convention shared with the portable MinHash
    (dedup.py minhash machinery), so any SQL engine reproduces them —
    DuckDB: ``('0x' || substr(md5(i || ':' || key), 1, 15))::BIGINT %
    num_bits``.  xxhash64 (:func:`_positions`) is faster but
    Spark-only; portable positions are for stores whose bit content
    itself must be auditable across engines."""
    return [
        F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), key)), 1, 15), 16, 10)
            .cast("bigint"),
            F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_words_table(
    df: DataFrame,
    key: "Column | str",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    shard: "Column | None" = None,
    portable: bool = True,
) -> DataFrame:
    """The Bloom membership filter as a PERSISTABLE (w, word) table —
    the at-rest store; :func:`bloom_build` collects the same table to
    a driver literal.

    This is the snapshot-store shape at 100 TB: the prior corpus's
    fingerprint Bloom lives on disk as <= num_bits/64 rows (BIGINT
    word index, BIGINT word) next to the exact fingerprint store, is
    rebuilt never and MERGED always — ``bit_or`` per word is
    associative/commutative/idempotent, so per-shard (or per-day)
    word tables union + bit_or into the corpus filter exactly, the
    same merge algebra the HLL (MAX) / CMS (SUM) / log-bin (SUM)
    sketches carry.  Positions are md5-portable
    (:func:`_portable_positions`), so the bit content — not just the
    answers derived from it — is reproducible by any SQL engine.

    Missing words (no key set any bit there) have no row; readers
    treat absent as 0 (see :func:`bloom_pass_keys`).

    ``shard``: optionally, a grouping expression — the result gains a
    leading ``shard_id`` column and holds one word table PER SHARD,
    built in a single pass over ``df`` (the per-day / per-partition
    build shape); ``bit_or`` over ``w`` folds them into the corpus
    filter.

    ``portable=False`` swaps the md5 positions for seeded xxhash64
    (:func:`_positions`) — measurably cheaper per key (one JVM hash vs
    concat+md5+substring+conv per probe), for stores whose DERIVED
    answers are what matters (a Bloom prefilter's output is invariant
    to the hash family: no false negatives either way).  Keep the
    default when the bit content itself must be reproducible across
    engines (the fp-audit queries' oracles rebuild it in DuckDB).
    Build and probe MUST agree: pass the same flag to
    :func:`bloom_pass_keys` or member keys probe the wrong positions
    (silent false negatives — same failure class as a wrong
    num_bits)."""
    _check_num_bits(num_bits)
    key = F.col(key) if isinstance(key, str) else key
    pos_fn = _portable_positions if portable else _positions
    probes = F.array(*[
        F.struct(
            (p / 64).cast("bigint").alias("w"),
            # F.shiftleft only takes a literal shift; call the SQL
            # function directly to shift by a computed column
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int")
            ).alias("mask"),
        )
        for p in pos_fn(key, num_bits, num_hashes)
    ])
    cols = ([shard.alias("shard_id")] if shard is not None else []) \
        + [F.explode(probes).alias("p")]
    grp = (["shard_id"] if shard is not None else []) \
        + [F.col("p.w").alias("w")]
    return (df.select(*cols).groupBy(*grp)
            .agg(F.bit_or("p.mask").alias("word")))


def bloom_pass_keys(
    df: DataFrame,
    key_col: str,
    words: DataFrame,
    num_bits: int,
    num_hashes: int = 5,
    portable: bool = True,
) -> DataFrame:
    """Filter ANY frame to rows whose ``key_col`` passes the portable
    Bloom store: all ``num_hashes`` probed bits set.  Duplicates are
    fine (each row probes independently); every input column is kept.

    ``num_bits`` is REQUIRED (no default, unlike the builders): it
    MUST equal the value the words table was built with, or probe
    positions land in the wrong word and member keys silently fail —
    false negatives, the one thing a Bloom filter must never produce.
    The builder raises on malformed sizes; this probe does too, but a
    well-formed WRONG size is undetectable from the table alone, so
    the caller owns carrying the build parameters with the store.

    ``words`` is the (w, word) table from :func:`bloom_words_table` —
    broadcast here, which is safe BY CONSTRUCTION: it has at most
    num_bits/64 rows (16 K rows at the 1 Mi-bit default) regardless of
    how many keys built it, the bounded-state exception the SCALE.md
    uncapped-join rule carves out.  The probe is k chained broadcast
    LEFT joins — per row, k hash-map lookups inside the map stage,
    ZERO shuffle of the probe side (the first cut of this operator
    exploded k probe rows and counted hits with a groupBy, which
    shuffled 5x the corpus and cost 8x the exact join it was meant to
    prune at sf10).  An absent (all-zero) word joins NULL and the bit
    test coalesces it to 0 — correctly failing that probe.  The k
    joins all broadcast the SAME relation, so Spark ships it once
    (ReusedExchange).

    No false negatives ever: a key whose bits were all set at build
    time probes the same positions (same seeds) and finds them set.

    ``words`` is materialized here (eager localCheckpoint — one tiny
    job over <= num_bits/64 rows): the k broadcast sides carry
    k DIFFERENTLY-ALIASED selects of it, which defeats Spark's
    ReusedExchange, and without materialization each broadcast
    re-runs the full build aggregate — the store was being exploded
    and re-aggregated k times (seen in the sf10 executed plan).

    ``portable`` must MATCH the words table's build flag (see
    :func:`bloom_words_table`): mixed families probe the wrong
    positions and silently drop member keys."""
    out, passed = _bloom_probe(df, key_col, words, num_bits,
                               num_hashes, portable)
    return out.filter(passed).select(*df.columns)


def bloom_flag_keys(
    df: DataFrame,
    key_col: str,
    words: DataFrame,
    num_bits: int,
    num_hashes: int = 5,
    portable: bool = True,
    flag_col: str = "_bloom_pass",
) -> DataFrame:
    """:func:`bloom_pass_keys`, but the membership test is APPENDED as
    a boolean column instead of filtering — for consumers that need
    every input row downstream (e.g. a totals aggregate) and only want
    the Bloom verdict folded into a join condition.  Same probe
    machinery, same no-false-negative guarantee: ``flag_col`` is true
    iff all ``num_hashes`` probed bits are set.  Every input column is
    kept; build parameters must match the store, as in
    :func:`bloom_pass_keys`."""
    out, passed = _bloom_probe(df, key_col, words, num_bits,
                               num_hashes, portable)
    return out.select(*df.columns, passed.alias(flag_col))


def _bloom_probe(df, key_col, words, num_bits, num_hashes, portable):
    """Shared probe plumbing: chained broadcast word lookups.  Returns
    (frame with probe temp columns, the all-bits-set predicate)."""
    _check_num_bits(num_bits)
    words = words.localCheckpoint(eager=True)
    key = F.col(key_col)
    out = df
    tests = []
    pos_fn = _portable_positions if portable else _positions
    for i, p in enumerate(pos_fn(key, num_bits, num_hashes)):
        wcol, mcol, vcol, jcol = f"_bw{i}", f"_bm{i}", f"_bv{i}", f"_bj{i}"
        out = (
            out.withColumn(wcol, (p / 64).cast("bigint"))
            .withColumn(mcol, F.call_function(
                "shiftleft", F.lit(1).cast("bigint"),
                (p % 64).cast("int")))
            .join(
                F.broadcast(words.select(F.col("w").alias(jcol),
                                         F.col("word").alias(vcol))),
                F.col(wcol) == F.col(jcol), "left")
        )
        tests.append(
            F.coalesce(F.col(vcol), F.lit(0)).bitwiseAND(F.col(mcol))
            != 0)
    return out, reduce(lambda a, b: a & b, tests)
