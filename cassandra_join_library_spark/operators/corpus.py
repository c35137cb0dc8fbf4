"""Corpus-preparation operators for LLM training-data pipelines
(engine extension — beyond the reference surface, SURVEY.md §2.6).

The ops a 100 TB pre-training corpus build actually needs between
ingest and tokenization: term weighting, deterministic train/test
splitting, quantile-based quality filtering, benchmark-contamination
checks, composition reporting, sequence chunking, and embedding
clustering.  Everything is pure built-in-function DataFrame code
(JVM-side, codegen) with a portable ANSI-SQL twin so the DuckDB oracle
verifies it exactly — including the iterative k-means, which runs on
exact fixed-point integers so its unrolled-CTE SQL twin
(``queries/_kmeans_sql.py``) reproduces every assignment bit-for-bit.

Scale notes per operator are in the docstrings; the common theme is
that every shuffle is on a bounded key (term, (cluster, pos), shingle
with a doc-frequency cap upstream) and per-row work is map-side.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..parity import MAX_PARITY_DECIMAL_SCALE

from .dedup import shingles

# Knuth multiplicative-hash constant.  The id is reduced mod 2^31-1
# BEFORE multiplying — (id % m) * mult tops out at ~5.7e18 < 2^63, so
# the arithmetic stays inside BIGINT for ANY id (raw id * mult
# overflows — ANSI ARITHMETIC_OVERFLOW — once |id| > ~3.5e9, i.e. for
# every snowflake/hash-derived id space); pmod keeps buckets
# non-negative for negative ids (plain % follows the dividend's sign).
_HASH_MULT = 2654435761
_HASH_MOD = 2147483647


def _knuth_hash(id_col: Column) -> Column:
    return F.pmod(
        F.pmod(id_col.cast("bigint"), _HASH_MOD) * _HASH_MULT, _HASH_MOD
    )


def _doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One ``(doc_id, term)`` row per space-separated term of each
    document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Top-5 TF-IDF terms per document.

    tf = in-document term count, idf = ln((N+1)/(df+1)) (smoothed),
    score rounded to 6 dp BEFORE ranking so the ranking is identical
    across engines (term breaks ties).  Shuffles: one per aggregate,
    each on a bounded key (term / doc); the doc-frequency side is one
    row per distinct term — broadcast-sized even for web-scale vocab
    after minDF pruning.
    """
    tok = _doc_terms(df, id_col, text_col)
    # df(term) from the tf AGGREGATE, not a second pass over tok: tf
    # already has exactly one row per (doc, term), so count-per-term
    # equals count_distinct(doc).  tf is MATERIALIZED (eager
    # localCheckpoint): its two consumers prune different columns, so
    # Catalyst specializes the two exchange subtrees and exchange
    # reuse cannot fire — without it the corpus is tokenized twice
    # (measured sf1: 3.03 s -> 1.45 s; costs ~0.4 s at sf0.1, the
    # scale-first trade, same class as the prefix-filter sort-merge
    # hints in SCALE.md round-11/12)
    tf = (tok.groupBy("doc_id", "term")
          .agg(F.count("*").cast("bigint").alias("tf"))
          .localCheckpoint(eager=True))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    ndocs = df.select(F.count_distinct(id_col).cast("bigint").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_col: str,
) -> DataFrame:
    """Deterministic hash-based 90/10 train/test split, stratified.

    bucket = ((id·2654435761) + ascii(strata)·7919) mod (2^31-1) mod
    1000, test below 100 — a pure function of the row, so the split is reproducible
    across runs, engines, and cluster sizes (unlike Bernoulli
    TABLESAMPLE), and rows never migrate between splits when data is
    appended.  Map-only: zero shuffles.
    """
    h = F.pmod(
        _knuth_hash(F.col(id_col))
        + F.ascii(F.col(strata_col)).cast("bigint") * 7919,
        _HASH_MOD,
    )
    bucket = F.pmod(h, 1000).alias("bucket")
    return df.select(
        F.col(id_col),
        F.col(strata_col),
        bucket,
        F.when(F.pmod(h, 1000) < 100, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def quality_quantile_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Keep the top half of each group by token count.

    percent_rank over a TOTAL order (n_tokens desc, id) is
    (row_number-1)/(n-1) — identical in any engine, so the kept set is
    deterministic.  One shuffle on the group key; per-group state is a
    sort, which range-partitions at cluster scale.  This is the
    standard "keep the best X% per language" corpus filter.
    """
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    base = df.select(
        F.col(id_col), F.col(group_col), n_tokens.alias("n_tokens")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("n_tokens"), F.asc(id_col)
    )
    pr = F.percent_rank().over(w)
    return (
        base.withColumn("_pr", pr)
        .filter(F.col("_pr") <= 0.5)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col("n_tokens"),
            F.round(F.col("_pr"), 6).alias("pr"),
        )
    )


def bench_shingle_index(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    max_bench_doc_freq: "int | None" = None,
) -> DataFrame:
    """The benchmark side's (3-gram shingle, bdoc) posting index, distinct,
    optionally stop-shingle capped — THE store a decontamination
    screen persists once per benchmark suite.  Shared by
    :func:`contamination_overlap` (its join side) and the Bloom-store
    screening queries (which build the benchmark's Bloom words table
    over this index's distinct shingles), so the cap semantics can
    never drift between the exact join and the filter built to prune
    it."""
    bench_sh = (
        shingles(bench, id_col, text_col, n=3)
        .select(F.col("shingle"), F.col("doc").alias("bdoc"))
        .distinct()
    )
    if max_bench_doc_freq is not None:
        bench_sh = (
            bench_sh.withColumn(
                "_df",
                F.count(F.lit(1)).over(Window.partitionBy("shingle")),
            )
            .filter(F.col("_df") <= max_bench_doc_freq)
            .drop("_df")
        )
    return bench_sh


def contamination_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    max_bench_doc_freq: "int | None" = None,
    bench_index: "DataFrame | None" = None,
    bench_bloom: "DataFrame | None" = None,
    bloom_bits: "int | None" = None,
    bloom_hashes: int = 5,
    bloom_portable: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: fraction of a document's distinct
    word 3-grams that appear in a benchmark/eval set; a document is
    contaminated at a fraction of 0.5 or more.

    Standard decontamination step before training.  Inverted-index
    join on the n-gram string: cost ∝ Σ df(shingle over bench), never
    n² — the benchmark side is small by definition, and its distinct
    shingle set is the only thing shuffled against the corpus.
    ``bench`` rows also present in ``df`` don't count against
    themselves (id inequality on the join).

    ``max_bench_doc_freq`` drops shingles appearing in more than that
    many DISTINCT benchmark documents before the join — the same
    stop-shingle knob as Jaccard's ``max_doc_freq``: a generic 3-gram
    shared by half the benchmark multiplies into every matching corpus
    doc (join output = corpus_df(s) × bench_df(s)), and such shingles
    are non-discriminative for contamination anyway.  The per-doc
    denominator (``n_shingles``) is NOT capped: only matching is —
    capping the denominator would inflate ratios of generic docs.

    ``bench_index``: optionally, the PREBUILT (shingle, bdoc) posting
    index from :func:`bench_shingle_index` — the store a screening
    pipeline persists once per benchmark suite.  When given, the
    bench side is not rebuilt here (``max_bench_doc_freq`` is ignored
    in its favor — the cap was applied when the index was built).

    ``bench_bloom``: optionally, the benchmark's persisted Bloom
    filter as a (w, word) table (operators/bloom.py
    ``bloom_words_table``, built over the SAME index's distinct
    shingles).  When given, the Bloom verdict is probed MAP-SIDE
    (``bloom_flag_keys``) and folded into the join condition:
    shingles failing the probe are provably absent from the benchmark
    (no false negatives) and never match, while still counting toward
    the ``n_shingles`` denominator.  This is the 100 TB screening
    shape — the benchmark is fixed and tiny (broadcast join side), the
    snapshot is the 100 TB side, and a healthy snapshot's shingles
    are overwhelmingly benchmark-absent, so the flag prunes the match
    expansion to the (overlap + measured fp) fraction.  Output is
    bit-identical with or without the filter.

    ``bench_bloom`` REQUIRES ``bench_index``: the filter and the
    store it was built over must travel together — a Bloom built over
    a DIFFERENTLY-CAPPED index than the join side would prune
    shingles the exact join should match (silent false negatives,
    exactly the failure ``bloom_bits`` being mandatory guards against
    in the size dimension).  ``bloom_bits`` must equal the build's
    num_bits (see ``bloom_pass_keys`` on why there is no default).
    """
    # argument validation FIRST — before the corpus-wide shingle
    # transform is persisted (an error after that pass wastes the
    # whole job and leaks the pinned frame)
    if bench_bloom is not None:
        if bench_index is None:
            raise ValueError(
                "bench_bloom requires bench_index — pass the exact "
                "bench_shingle_index the words table was built over, "
                "or a differently-capped rebuild here would make the "
                "filter prune shingles the exact join must match"
            )
        if bloom_bits is None:
            raise ValueError(
                "bench_bloom requires bloom_bits — pass the exact "
                "num_bits the words table was built with"
            )
    # ONE corpus pass (fused totals + hits): the bench side LEFT-joins
    # onto the (doc, shingle) table, so a per-(doc, shingle) hit flag
    # and the totals denominator come out of the SAME aggregate —
    # where the previous shape scanned the shingle table twice (probe
    # join + separate totals aggregate) and paid a third doc-keyed
    # join to stitch hits back onto totals.  That also removes the
    # eager doc_sh materialization job: the shingle transform now has
    # exactly one consumer, so there is nothing to share (guide §2.4:
    # remove shuffles/passes outright).  ``shingles`` emits DISTINCT
    # (doc, shingle) rows, so count(*) over the first-level groups ==
    # the old totals count and sum(hit) == the old count_distinct.
    doc_sh = shingles(df, id_col, text_col, n=3)
    bench_sh = bench_index if bench_index is not None else \
        bench_shingle_index(bench, id_col, text_col,
                            max_bench_doc_freq=max_bench_doc_freq)
    if bench_bloom is not None:
        from .bloom import bloom_flag_keys

        # the Bloom verdict rides along as a COLUMN (not a filter):
        # rows failing the probe are provably benchmark-absent (no
        # false negatives) and simply never match in the left join,
        # while still counting toward the n_shingles denominator —
        # the flag folds the prune into the join condition without a
        # second unpruned pass for totals.
        # bloom_portable must match the words table's build flag
        # (bloom_words_table contract)
        probe = bloom_flag_keys(doc_sh, "shingle", bench_bloom,
                                bloom_bits, bloom_hashes, bloom_portable)
        pass_pred = probe["_bloom_pass"]
    else:
        probe = doc_sh
        pass_pred = F.lit(True)
    j = probe.join(
        bench_sh,
        (probe["shingle"] == bench_sh["shingle"])
        & (probe["doc"] != bench_sh["bdoc"])
        & pass_pred,
        "left",
    )
    # level 1: per-(doc, shingle) hit flag — dedups the bench-side
    # match expansion exactly like the old count_distinct did
    per_sh = j.groupBy(probe["doc"], probe["shingle"]).agg(
        F.max(bench_sh["bdoc"].isNotNull()).alias("_hit")
    )
    joined = per_sh.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.col("_hit").cast("bigint")).cast("bigint")
        .alias("n_overlap"),
    ).select(
        F.col("doc").alias("doc_id"), "n_shingles", "n_overlap",
    )
    ratio = F.col("n_overlap") * F.lit(1.0) / F.col("n_shingles")
    return joined.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 6).alias("overlap_ratio"),
        (ratio >= 0.5).alias("is_contaminated"),
    )


def corpus_stats(
    df: DataFrame, text_col: str, group_cols: List[str]
) -> DataFrame:
    """Corpus composition report: docs / chars / estimated BPE tokens
    per group (source × language).  Partial-aggregate shape — the
    shuffle carries one row per (partition, group); at 100 TB this is
    the cheapest possible full-corpus pass."""
    from .stats import staged_ppm

    n_chars = F.length(F.col(text_col)).cast("bigint")
    est_tokens = F.ceil(n_chars / 4.0).cast("bigint")
    agg = df.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_chars).cast("bigint").alias("total_chars"),
        F.sum(est_tokens).cast("bigint").alias("total_est_tokens"),
    )
    # avg as INTEGER micro-units then one IEEE division — never
    # round(double_quotient): engines round boundary quotients apart
    # (the r12 sf10 sweep hit this here).  staged_ppm keeps the x1e6
    # exact past 9e12 total chars, the 100 TB regime.
    return agg.withColumn(
        "avg_chars",
        F.expr(staged_ppm("total_chars", "n_docs")).cast("double")
        / F.lit(1000000.0),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Split documents into 200-character chunks every 150 characters
    (50 overlap) — the sequence-packing precursor: long documents
    become training-window-sized pieces, short tails kept.

    Row-expanding but map-only (explode of a per-row sequence): zero
    shuffles, and output partitioning follows input splits.  Chunk i
    covers [150·i, 150·i+200); starts range over
    0..(len-1) div 150 so every character is covered.  Empty
    documents produce no chunks (guarded — Spark's ``sequence`` counts
    backwards on a negative stop).
    """
    n = F.length(F.col(text_col)).cast("bigint")
    starts = F.sequence(F.lit(0).cast("bigint"), (n - 1) - ((n - 1) % 150),
                        F.lit(150).cast("bigint"))
    chunk = F.expr(f"substring({text_col}, cast(chunk_start + 1 as int), 200)")
    return (
        df.filter(n >= 1)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            F.col(id_col),
            (F.col("chunk_start") / 150).cast("bigint").alias("chunk_id"),
            chunk.alias("chunk_text"),
            F.length(chunk).cast("bigint").alias("chunk_chars"),
        )
    )


def mixture_rebalance(
    df: DataFrame,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Temperature-0.5 source rebalancing: downsample each source with
    keep-fraction sqrt(c_min / c_source), flattening the size skew
    between sources (the standard data-mixture step before training —
    big crawl dumps stop drowning small high-quality sources).

    Deterministic: the keep decision is hash(id) mod 1e6 < frac·1e6 —
    reproducible across runs/engines/appends, rows never flip.  The
    fraction uses only division and sqrt (IEEE correctly-rounded in
    every engine, unlike pow), so the oracle matches bit-exactly.
    Two tiny aggregates (per-source counts, global min) broadcast back
    against the corpus: one map-side filter pass at any scale.
    """
    counts = df.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("_c")
    )
    cmin = counts.agg(F.min("_c").alias("_cmin"))
    frac = F.sqrt(F.col("_cmin") / F.col("_c"))
    bucket = F.pmod(_knuth_hash(F.col(id_col)), 1_000_000)
    return (
        df.join(F.broadcast(counts), source_col)
        .crossJoin(F.broadcast(cmin))
        .filter(bucket < frac * 1_000_000)
        .select(
            F.col(id_col),
            F.col(source_col),
            F.round(frac, 6).alias("keep_frac"),
        )
    )


#: range buckets of :func:`pack_sequences`' doc-offset prefix sum: the
#: bound on its one unpartitioned window
PACK_BUCKETS = 1024


def pack_sequences(chunks: DataFrame) -> DataFrame:
    """Assign chunks (doc_id, chunk_id, chunk_chars) to 512-token
    training packs by global offset: pack_id =
    (running_token_count - own_tokens) div 512 in (doc, chunk)
    order.

    The global prefix sum is computed scalably in THREE levels; the
    only unpartitioned window runs over at most ``PACK_BUCKETS`` rows
    (a constant, never data-sized):

    1. intra-document cumulative sum — window partitioned by doc
       (fully parallel);
    2. per-document offsets within a doc-id RANGE BUCKET — window
       partitioned by bucket over the doc-level totals table (one row
       per doc, ≤ ~N/PACK_BUCKETS rows per partition for uniform ids);
    3. per-bucket offsets — an exclusive prefix window over at most
       ``PACK_BUCKETS`` (bucket, total) rows (constant-size state, same
       bounded-frame pattern as corpus.shuffle_shards), joined back as
       a broadcast.

    Equivalent to — and oracle-checked against — a flat
    ``SUM() OVER (ORDER BY doc, chunk)``.  Bucketing is by doc-id
    range (monotone, so order is preserved); heavily skewed id spaces
    degrade toward fewer effective buckets but never change results.

    The operator needs the input more than once (bucket totals, final
    join), so it eagerly localCheckpoints the narrow (doc, chunk,
    tokens) projection up front — whatever transform produced
    ``chunks`` (typically an explode) executes exactly once, and the
    checkpoint also truncates the lineage so everything downstream
    plans over a leaf instead of re-optimizing the producer pipeline.  The doc-id bounds for the
    range bucketing ride the checkpoint job as an ``observe()``
    metric, and the bucket offsets are computed in-plan, so the
    checkpoint is the operator's ONLY internal action — everything
    else (totals fill, bucket window, final join) rides the caller's
    action.  ``tests/test_plans.py`` pins the input-executes-once
    contract with an accumulator-counted input.

    Lifecycle note: the checkpointed projection's executor storage
    blocks are released by the ContextCleaner only once the RDD is
    GC'd driver-side (there is no caller-visible unpersist handle);
    long sessions packing many corpora rely on that GC path.
    """
    from pyspark.sql import Observation

    tok = F.ceil(F.col("chunk_chars") / 4.0).cast("bigint")
    # a NULL doc id would flow into a NULL range bucket and break the
    # bucket-offset running sum ordering — assert loudly per row
    # instead (in a FILTER so column pruning can't elide the check)
    # eager localCheckpoint, not a lazy persist: both downstream
    # consumers (doc totals, final join) re-analyze this projection —
    # with a lazy persist each re-analyzes the whole upstream plan
    # (explode + whatever pipeline produced ``chunks``) before hitting
    # the cache; the checkpoint truncates the lineage so they plan
    # over a LogicalRDD leaf (cluster caveat: operators/dedup.py
    # module doc).  The doc-id BOUNDS the
    # range bucketing needs ride the SAME checkpoint job as an
    # ``observe()`` metric — the r16-verdict action-folding ask: the
    # old separate min/max collect was a full extra driver round-trip
    # (a job per pack_sequences call) for two scalars the materializing
    # pass already sees.  (A broadcast-one-row-frame alternative was
    # rejected earlier because it plans as a BroadcastNestedLoopJoin
    # the scale-safety guards refuse to whitelist; observe() has no
    # plan-side cost at all.)
    obs = Observation()
    c = chunks.filter(F.assert_true(
        F.col("doc_id").isNotNull(),
        F.lit("pack_sequences: NULL doc id in chunk input"),
    ).isNull()).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_id"),
        tok.alias("n_tokens"),
    ).observe(
        obs, F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).localCheckpoint(eager=True)
    intra = F.sum("n_tokens").over(
        Window.partitionBy("doc_id").orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_intra = c.withColumn("_intra", intra)
    doc_totals = c.groupBy("doc_id").agg(F.sum("n_tokens").alias("_doc_tot"))
    bounds = obs.get  # blocks until the checkpoint job has reported
    lo = bounds["lo"] if bounds["lo"] is not None else 0
    hi = bounds["hi"] if bounds["hi"] is not None else 0
    span = max(1, -(-(hi - lo + 1) // PACK_BUCKETS))  # ceil div
    bkt = F.floor((F.col("doc_id") - F.lit(lo)) / F.lit(span)).cast("bigint")
    dt = doc_totals.withColumn("_bkt", bkt)
    # level 2: exclusive doc-offset within each bucket (parallel)
    w_bkt = (
        Window.partitionBy("_bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dt = dt.withColumn(
        "_boff",
        F.coalesce(F.sum("_doc_tot").over(w_bkt), F.lit(0)).cast("bigint"),
    )
    # level 3: exclusive bucket-offset — ≤ PACK_BUCKETS rows.  Computed
    # as a running sum over the per-bucket totals INSIDE the plan (a
    # window over a bounded, cluster-property-sized frame — the same
    # shape corpus.shuffle_shards' global index already uses) instead
    # of the old driver-side collect+fold: the collect was a full
    # extra driver action per pack_sequences call (r16 verdict ask #1,
    # cut the internal action count), where the window rides the
    # caller's action for free.  The unpartitioned window is bounded
    # by PACK_BUCKETS, never data-sized.
    w_bkt_off = (
        Window.orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = (
        dt.groupBy("_bkt").agg(F.sum("_doc_tot").alias("_tot"))
        .select(
            "_bkt",
            F.coalesce(F.sum("_tot").over(w_bkt_off), F.lit(0))
            .cast("bigint").alias("_bkt_off"),
        )
    )
    offsets = (
        dt.join(F.broadcast(boffs), "_bkt")
        .select(
            "doc_id",
            (F.col("_bkt_off") + F.col("_boff")).alias("_off"),
        )
    )
    cum = F.col("_off") + F.col("_intra")
    return (
        # no broadcast hint: offsets is one row per doc — small here,
        # but AQE should decide from true sizes at corpus scale
        with_intra.join(offsets, "doc_id")
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            F.floor((cum - F.col("n_tokens")) / 512)
            .cast("bigint")
            .alias("pack_id"),
        )
    )


def latest_state(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str
) -> DataFrame:
    """Latest-wins compaction (CDC upsert semantics): one row per key,
    the one with the greatest (ts, tiebreak).  One shuffle on the key;
    at scale this is the standard snapshot-compaction of a changelog,
    and Spark executes it as a partial ``max(struct)``-style top-1 per
    key when written with row_number+filter (AQE keeps it skew-safe)."""
    w = Window.partitionBy(key_col).orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shuffle_shards(
    df: DataFrame, id_col: str, n_shards: int = 64
) -> DataFrame:
    """Deterministic global shuffle for training order: hash the id,
    route to a shard, order within the shard.

    This is how a 100 TB corpus is actually shuffled: shard assignment
    is map-side (hash mod), per-shard position is a window partitioned
    by shard — every shard sorts in parallel, no global sort.  The
    (shard, pos) pair defines a reproducible total order any trainer
    can stream."""
    h = _knuth_hash(F.col(id_col))
    base = df.select(
        F.col(id_col), F.pmod(h, n_shards).cast("bigint").alias("shard"),
        h.alias("_h"),
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return base.select(
        id_col,
        "shard",
        (F.row_number().over(w).cast("bigint") - 1).alias("pos_in_shard"),
    )


# k-means runs on fixed-point microunits (x · 10^6 as BIGINT): every
# distance and mean is exact integer arithmetic, so assignments are
# identical under any partitioning, any fold order, AND in any other
# engine — which is what lets the iterative algorithm carry a full
# value oracle (see queries/_kmeans_sql.py for the unrolled SQL twin).
KMEANS_SCALE = 1_000_000


def _sq_dists_all(vec: Column, centroids: "List[List[int]]") -> Column:
    """Exact squared distances from a microunit BIGINT vector to EVERY
    centroid, as one array — the distance fold is generated once via a
    ``transform`` over a literal 2-D centroid array (k-independent
    codegen size; same trick as the PQ codebook in similarity.py), not
    k copies of the expression.  Magnitudes: |x| ≤ ~10 ⇒ microunits
    ≤ 10^7, squared diff ≤ 4·10^14, × 4096 dims ≤ 1.6·10^18 < 2^63."""
    # inner vectors as numpy-backed Literals (one bound reference per
    # centroid), not k x dim scalar CreateArray children re-evaluated
    # per row — the bloom.py/similarity.py wave-31 literal finding
    import numpy as np

    cents = F.array(*[
        F.lit(np.asarray([int(x) for x in c], dtype=np.int64))
        for c in centroids
    ])
    return F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )


def _rounded_div(s: int, n: int) -> int:
    """Integer division rounded half away from zero — pure integer, so
    the SQL twin (floor/abs/modulo on BIGINTs) reproduces it exactly."""
    a = abs(s)
    q, r = divmod(a, n)
    q += 1 if 2 * r >= n else 0
    return q if s >= 0 else -q


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """See :func:`kmeans_fit` — returns just the assignments (the
    original public contract)."""
    assigned, _ = kmeans_fit(df, id_col, vec_col, k=k, n_iter=n_iter)
    return assigned


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 5,
) -> "tuple[DataFrame, list[list[float]]]":
    """Deterministic Lloyd's k-means over an embedding column.

    The canonical scale pattern (same as IVF in similarity.py):
    centroids are k×dim values — driver-small at ANY corpus size — so
    each iteration broadcasts them as literals and assignment is a
    MAP-ONLY pass (no corpus shuffle); the update is one partial
    aggregate on (cluster, pos).  Determinism AND oracle parity: the
    whole algorithm runs on fixed-point microunits (``KMEANS_SCALE``)
    — init = microunit embeddings of the k smallest ids, distances
    are exact BIGINT sums (order-independent), centroid means are
    integer divisions rounded half away from zero, argmin ties break
    to the lowest cluster index.  Nothing depends on float summation
    order, so the unrolled SQL twin (``queries/_kmeans_sql.py``)
    reproduces every assignment bit-for-bit — a FULL value oracle for
    an iterative algorithm.  Returned centroids are microunits / 10^6
    (same double both engines compute).

    The loop runs one driver action per iteration (centroid update),
    plus the init collect and the caller's final action — so the
    narrow (id, vector) projection is localCheckpointed up front and
    whatever produced ``df`` executes exactly once (accumulator-pinned
    in ``tests/test_plans.py``, same guarantee as ``pack_sequences``).
    """
    vec = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0).cast("bigint"),
    )
    base = df.select(
        F.col(id_col).alias("vid"), vec.alias("v")
    ).localCheckpoint(eager=True)
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    init = [
        [int(x) for x in r["v"]]
        for r in base.orderBy("vid").limit(k).collect()
    ]
    if len(init) < k:
        raise ValueError(
            f"k={k} exceeds the {len(init)} available input rows"
        )
    dim = len(init[0])
    # a vector with a NULL element or a different length would NULL its
    # distances (cluster NULL) and crash the driver-side centroid
    # update with an opaque TypeError/KeyError — assert per row with a
    # diagnosable message instead (assert_true raises on first offender)
    base = base.filter(F.assert_true(
        (F.size("v") == dim) & ~F.exists("v", lambda x: x.isNull()),
        F.format_string(
            "kmeans_fit: embedding with NULL element or length %s != "
            "expected %s", F.size("v").cast("string"), F.lit(str(dim)),
        ),
    ).isNull())
    centroids = init
    assigned = None
    for _ in range(n_iter):
        dists = _sq_dists_all(F.col("v"), centroids)
        cluster = (
            F.array_position(dists, F.array_min(dists)).cast("bigint") - 1
        ).alias("cluster")
        assigned = base.select("vid", "v", cluster)
        new_rows = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum("x").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        upd = {}
        for r in new_rows:
            upd.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                _rounded_div(int(r["s"]), int(r["n"]))
            )
        centroids = [
            [upd[j][p] for p in range(len(centroids[j]))] if j in upd else centroids[j]
            for j in range(k)
        ]
    return (
        assigned.select("vid", "cluster"),
        [[c / KMEANS_SCALE for c in row] for row in centroids],
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Per-group quota cap: keep at most ``k`` rows per ``group_col``,
    preferring the highest ``order_col`` (ties on lowest ``id_col``).

    The crawl-pipeline staple — cap documents per domain/source so no
    single site dominates the training mix.  One window keyed by the
    group; deterministic total order makes the kept set reproducible
    across runs and engines.  Spark rewrites the ``row_number <= k``
    filter into WindowGroupLimit (partial per-map top-k before the
    shuffle), so a mega-domain with 10^9 pages ships only k rows per
    map task — skew-safe at 100 TB.
    """
    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(id_col))
    return (
        df.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: List[str],
    k: int = 10,
) -> DataFrame:
    """BM25 (k1 = 1.2, b = 0.75) retrieval: top-k documents for a bag
    of query terms.

    Sparse lexical search over the corpus — the retrieval half of a
    dedup/decontamination review loop and the baseline for RAG-style
    data curation.  Plan shape (all built-ins, no UDF):

    - ONE tokenize pass, ONE doc-keyed exchange: document length and
      the per-query-term tf columns come out of a single grouped
      aggregate (tf_i = SUM(term = q_i), a |query|-wide conditional
      pivot — map-side combined, one row per doc).  The first cut
      branched the exploded token stream into separate dl and
      postings aggregates; exchange reuse cannot dedupe a NARROW
      stage, so the corpus was tokenized 4x (measured in the final
      AQE plan — zero ReusedExchange);
    - the (doc_id, term, tf) postings are unpivoted map-only from
      those columns (rows only for tf > 0, |query|-bounded fanout);
      df(term) and the global (N, total_len) derive from the same
      aggregate and broadcast (one row per query term / one row);
    - per-term contributions are computed in double with a fixed
      operand order, rounded to 6 dp, then summed as DECIMAL — exact
      and order-independent, so the score is bit-stable under
      re-partitioning and reproducible in the SQL oracle.

    idf uses the BM25+ form ln(1 + (N - df + .5)/(df + .5)) which is
    always positive.  The final top-k is orderBy+limit with a total
    order — TakeOrderedAndProject (per-partition partial top-k, driver
    merge), never a global sort or unpartitioned window.  Returns
    (doc_id, n_matched, score), highest score first.
    """
    terms = list(query_terms)
    tok = _doc_terms(df, id_col, text_col)
    # one narrow row per doc, MATERIALIZED (eager localCheckpoint):
    # its three consumers (stats, postings, dfreq-through-postings)
    # prune different columns, so Catalyst specializes each branch's
    # exchange and reuse cannot fire — without materialization the
    # corpus was tokenized 3x (measured: 1.07 s -> 0.78 s at sf0.1,
    # 0.71 s -> 0.61 s at sf1; at 100 TB it is 1 corpus scan vs 3)
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        *[F.sum((F.col("term") == t).cast("bigint")).cast("bigint")
          .alias(f"_tf{i}") for i, t in enumerate(terms)],
    ).localCheckpoint(eager=True)
    stats = per_doc.agg(
        F.sum("dl").cast("bigint").alias("total_len"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    stack = ", ".join(
        "'{}', _tf{}".format(t.replace("'", "\\'"), i)
        for i, t in enumerate(terms)
    )
    tf = (per_doc.select(
        "doc_id", "dl",
        F.expr(f"stack({len(terms)}, {stack}) AS (term, tf)"))
        .filter(F.col("tf") > 0))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
    )
    # fixed operand order, mirrored verbatim in the SQL oracle so the
    # IEEE double results are identical before the 6-dp round
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = (
        F.lit(1.0) - F.lit(0.75)
        + F.lit(0.75) * F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    contrib = F.round(
        idf * F.col("tf") * (F.lit(1.2) + F.lit(1.0))
        / (F.col("tf") + F.lit(1.2) * norm),
        6,
    ).cast("decimal(18,6)")
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum(contrib).cast("double").alias("score"),
    )
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def global_row_numbers(
    df: DataFrame,
    order_cols: "List[Column]",
    range_cols: "List[str]",
) -> DataFrame:
    """Deterministic 0-based global sequence numbers in a total order,
    WITHOUT a global sort or unpartitioned window — the scale-safe way
    to index a corpus for training shards / sample addressing.

    Three-step, single-job plan (no driver actions):

    1. ``repartitionByRange`` on the full sort key (must be a total
       order — include a unique tiebreak in both ``order_cols`` and
       ``range_cols``) puts each row in one of ``defaultParallelism``
       ordered range buckets;
    2. per-bucket ``row_number`` over a window keyed by
       ``spark_partition_id()`` — bounded by rows-per-bucket, never
       corpus size;
    3. bucket offsets come from a running sum over the per-bucket
       counts — a window over #partitions rows (cluster-sized, not
       data-sized), joined back broadcast.

    The assignment equals ``row_number() OVER (ORDER BY ...) - 1``
    exactly (range buckets are ordered and the key is total), which is
    what the SQL oracle computes.  Appends ``row_id``.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    bucketed = df.repartitionByRange(n, *range_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # per-bucket counts -> exclusive prefix offsets; #buckets rows, so
    # the unpartitioned running-sum window is bounded by the partition
    # count (a cluster property), not by data size
    from pyspark.sql import Window

    counts = bucketed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_pid",
        (F.sum("_n").over(off_w) - F.col("_n")).cast("bigint").alias("_off"),
    )
    in_w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        bucketed.withColumn("_rn", F.row_number().over(in_w).cast("bigint"))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("row_id", F.col("_off") + F.col("_rn") - 1)
        .drop("_pid", "_rn", "_off")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k collocations (adjacent word pairs) by pointwise mutual
    information: PMI = ln(N · c12 / (c1 · c2)) over corpus bigram and
    unigram counts — the standard phrase-mining signal ("new york"
    scores high, "of the" scores low).

    All counts are exact BIGINTs from two bounded-key aggregates
    (map-side combine); the N scalar is a 1-row broadcast; PMI is
    rounded to 6 dp BEFORE ranking (engine-portable order, bigram
    text as tiebreak) and the top-k is orderBy+limit —
    TakeOrderedAndProject, no global sort.  ``min_count`` drops rare
    pairs whose PMI is noise.  Returns (w1, w2, c12, c1, c2, pmi).
    """
    base = df.select(F.split(F.col(text_col), " ").alias("w"))
    bg = base.select(
        F.explode(
            F.expr(
                "IF(size(w) >= 2, transform(sequence(0, size(w) - 2), "
                "i -> struct(w[i] AS w1, w[i + 1] AS w2)), array())"
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    uni = base.select(F.explode("w").alias("word"))
    cu = uni.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = uni.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # products computed in DOUBLE: n·c12 at web scale (n ~ 1e13 tokens)
    # overflows BIGINT; double keeps both engines identical (same
    # operand order) and PMI is a log anyway
    pmi = F.round(
        F.log(
            (F.col("n").cast("double") * F.col("c12"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    # the unigram-count joins carry NO broadcast hint: the vocabulary
    # is data-dependent (billions of distinct tokens in crawl text),
    # so forcing a broadcast would OOM at scale — these are ordinary
    # word-keyed equi-joins (AQE still broadcasts when cu is actually
    # small); only the 1-row N aggregate is unconditionally broadcast
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(cu.select(F.col("word").alias("w1"),
                        F.col("c").alias("c1")), "w1")
        .join(cu.select(F.col("word").alias("w2"),
                        F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "c12", "c1", "c2", pmi.alias("pmi"))
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(k)


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    content_cols: List[str],
) -> DataFrame:
    """Dataset-version diff: classify every id as added / removed /
    changed between two corpus snapshots — the audit step between
    ingestion runs (what did this crawl actually change?).

    Both sides reduce to (id, fixed-width content digest) before the
    FULL OUTER join, so the shuffle carries 32-byte digests instead of
    document bodies and the compare is equality on the digest — the
    same trick as incremental dedup.  One keyed shuffle; output is
    only the delta (unchanged rows drop out).  Returns (id, status)
    with status in {'added', 'removed', 'changed'}.
    """
    from ..functions.scalars import content_digest

    digest = content_digest(content_cols)  # NULL-safe, separator-safe
    o = old_df.select(F.col(id_col).alias("_id"), digest.alias("_od"))
    n = new_df.select(F.col(id_col).alias("_id"), digest.alias("_nd"))
    joined = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(F.col("_id").alias(id_col), "status")
    )


def token_budget_plan(
    df: DataFrame,
    text_col: str,
    source_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Token-budget mixture planning: given a global training-token
    budget and a target weight per source, compute each source's token
    supply, the sampling fraction that hits its share of the budget,
    and the epoch count (oversampling factor) when the share exceeds
    the supply — the planning table a data-mixture run materializes
    before sampling (the planning half of :func:`mixture_rebalance`,
    which executes a fixed temperature policy instead).

    Target weights are derived deterministically from the source name
    (``(source_number % 3) + 1``, normalized over the sources present)
    so the plan — and its oracle — need no out-of-band weight table;
    swap in a literal weight map in production.  Cost: one per-source
    aggregate (map-side combined, |sources| rows) plus a broadcast of
    the one-row weight total — no data-sized shuffle at any scale.
    Returns (source, n_docs, n_tokens, target_weight, target_tokens,
    sample_frac, epochs, expected_tokens).
    """
    per_source = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # try_cast: regexp_extract yields '' for sources without trailing
    # digits, and cast('' AS BIGINT) THROWS under ANSI mode (the
    # Spark 4 default) — digitless sources fall back to weight 1
    raw_w = F.coalesce(
        F.regexp_extract(F.col(source_col), r"(\d+)$", 1)
        .try_cast("bigint") % 3 + 1,
        F.lit(1),
    ).cast("double")
    weighted = per_source.withColumn("_w", raw_w)
    total = weighted.agg(F.sum("_w").alias("_wtot"))
    share = F.col("_w") / F.col("_wtot")
    target_tokens = F.floor(share * F.lit(float(budget_tokens))).cast("bigint")
    ratio = target_tokens / F.col("n_tokens")
    sample_frac = F.round(F.least(F.lit(1.0), ratio), MAX_PARITY_DECIMAL_SCALE)
    epochs = F.greatest(F.lit(1.0), ratio)
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            F.col(source_col),
            "n_docs",
            "n_tokens",
            F.round(share, MAX_PARITY_DECIMAL_SCALE).alias("target_weight"),
            target_tokens.alias("target_tokens"),
            sample_frac.alias("sample_frac"),
            F.ceil(epochs).cast("bigint").alias("epochs"),
            F.floor(sample_frac * F.col("n_tokens")).cast("bigint")
            .alias("expected_tokens"),
        )
    )


def vocabulary_oov(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Tokenizer-prep vocabulary build + per-document OOV audit.

    The vocabulary keeps terms whose document frequency lies in
    ``[2, 0.8 · N]`` — the classic band that drops
    hapaxes (noise, PII fragments) and boilerplate stop-terms at the
    two ends.  Each document then reports how much of its token mass
    the vocabulary covers: high-OOV docs are what a fixed tokenizer
    will shred into bytes.

    Plan: one token explode feeds both the df aggregate (term-keyed,
    map-side combined) and the coverage join (term-keyed shuffle that
    reuses the same partitioning).  The vocab is NOT broadcast — at
    web scale it is millions of rows; the bounded-key sort-merge/hash
    join is the right shape, and Catalyst broadcasts it anyway when
    it is actually small.  Returns one row per doc:
    (doc_id, n_tokens, n_oov, oov_rate).
    """
    tok = _doc_terms(df, id_col, text_col)
    ndocs = df.select(F.count_distinct(id_col).cast("bigint").alias("_n"))
    dfreq = (
        tok.groupBy("term")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
        .crossJoin(F.broadcast(ndocs))
    )
    vocab = dfreq.filter(
        (F.col("df") >= 2)
        & (F.col("df") <= F.col("_n") * F.lit(0.8))
    ).select("term", F.lit(True).alias("_in_vocab"))
    cov = tok.join(vocab, "term", "left")
    return cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(
            F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


def topv_coverage(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Tokenizer-budget coverage audit: build the top-500 vocabulary
    by corpus frequency (ties broken on the term, so the cut is
    deterministic), then report per ``group_col`` how many token
    occurrences the budget covers — the number that tells you whether
    a vocab size starves one source/language (contrast
    ``vocabulary_oov``, which bands by document frequency instead of
    truncating by budget).

    Scale: term-keyed count with map-side combine; the top-500 is a
    TakeOrdered (never a full sort); coverage is one broadcast join of
    the corpus-sized token stream against the constant-size vocab +
    one group-keyed aggregate.  The rate is a single integer division
    so doubles agree across engines."""
    tok = df.select(
        F.col(group_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    vocab = (
        tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(500)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab"), 1).otherwise(0))
            .alias("covered_tokens"),
        )
        .select(
            F.col(group_col),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
            (F.col("covered_tokens").cast("double")
             / F.col("total_tokens")).alias("coverage_rate"),
        )
    )


def apportion_largest_remainder(
    weights: DataFrame, key_col: str, weight_col: str, total_slots: int
) -> DataFrame:
    """Hamilton largest-remainder apportionment: allocate exactly
    ``total_slots`` integer sampling slots across keys proportional to
    integer weights.  Each key gets the floor quota
    ``slots * w div W``; the leftover slots (always < #keys) go one
    each to the largest remainders, ties broken on key — so the
    quotas always sum EXACTLY to ``total_slots``, the property a
    mixture sampler needs before drawing (probabilistic rounding
    leaves the total off by O(sqrt(#keys))).

    Scale shape: the corpus-sized work is the upstream per-key weight
    aggregate; everything here runs over the #keys-sized table — one
    1-row total broadcast, one remainder-rank window, pure integer
    arithmetic (``slots * w`` must fit BIGINT: feed coarser weight
    units when slots * W approaches 2^63).  Returns
    (key, weight, base_quota, extra, quota)."""
    tot = weights.agg(
        F.sum(weight_col).cast("bigint").alias("big_w"))
    base = (
        weights.select(F.col(key_col).alias("key"),
                       F.col(weight_col).cast("bigint").alias("weight"))
        .crossJoin(F.broadcast(tot))  # 1-row grand total
        .select(
            "key", "weight",
            F.expr(f"({total_slots} * weight) div big_w")
            .cast("bigint").alias("base_quota"),
            F.expr(f"({total_slots} * weight) % big_w")
            .cast("bigint").alias("rem"),
        )
    )
    leftover = (F.lit(total_slots)
                - F.sum("base_quota").over(Window.partitionBy()))
    ranked = base.select(
        "key", "weight", "base_quota",
        F.row_number().over(
            Window.orderBy(F.desc("rem"), F.asc("key"))).alias("rk"),
        leftover.cast("bigint").alias("leftover"),
    )
    return ranked.select(
        "key", "weight", "base_quota",
        F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        .cast("bigint").alias("extra"),
        (F.col("base_quota")
         + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint").alias("quota"),
    )
