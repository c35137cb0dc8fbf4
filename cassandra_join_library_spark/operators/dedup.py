"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (it has no dedup); designed for the
100 TB training-data path:

- exact dedup: hash-groupBy on content — one shuffle, map-side combine;
- MinHash + LSH (:func:`minhash_lsh_pairs`, one operator): shingle →
  k minhashes → band join → exact-Jaccard verify.  Candidate
  generation touches only band-colliding pairs, never the full O(n^2)
  cross product;
- exact n-gram Jaccard and containment via one posting-list
  (inverted-index) co-occurrence join: pairs are generated per shared
  shingle, so cost is proportional to actual overlap, and a
  document-frequency cap drops degenerate stop-shingles (the classic
  scale trick);
- SimHash: 64-bit signatures + pigeonhole chunk-join for Hamming
  radius search — exact for radius <= chunks-1, no cross product.

``portable=True`` (MinHash and SimHash alike) swaps the JVM-only
xxhash64 for 60-bit md5-prefix hashes that any SQL engine reproduces
bit-for-bit, so a DuckDB oracle can check the full output.

All operators are pure DataFrame pipelines (JVM-side, no Python UDFs,
no driver collects).

Materialization rule (library-wide: every operator and every registered
query follows it): an intermediate that the RETURNED plan reads and
that several branches re-read (shingle sets, TF postings, k-means
vectors, a contingency table) is materialized with
``.localCheckpoint(eager=True)``, never ``persist()``.  These functions
return lazy plans, so a persist could never be unpersisted before the
caller materializes, and CacheManager-registered blocks accumulate for
the life of a shared session (releasing them measurably sped up the
whole r10 bench suite).  A ``persist()`` is allowed only for an
intermediate that the function itself unpersists before it returns
(the iterative loops of :func:`duplicate_clusters` and the graph
operators and queries).  ``tests/test_plans.py`` checks that queries
leave the session's cached-plan count unchanged.  Cluster-scale caveat:
localCheckpoint truncates lineage into non-replicated executor-local
blocks, so an executor loss or dynamic-allocation decommission fails
the job instead of recomputing the lost partitions.  On a real
multi-executor cluster either set
``spark.sparkContext.setCheckpointDir(...)`` to reliable storage and
swap these sites to ``.checkpoint()``, or accept job retry from source
on executor loss — both beat unbounded cache growth for library-level
operators whose callers never see the intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace tokenization into a ``words`` array column."""
    return df.withColumn("words", F.split(F.col(text_col), " "))


def _doc_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(doc, w)``: each document's whitespace word array, spread over
    the cluster for a CPU-heavy gram transform."""
    base = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("w")
    )
    # parallelize the (CPU-heavy) gram transform: small corpora often
    # arrive as a single input split; hash-repartition on doc spreads the
    # work AND pre-partitions for the per-doc groupBys downstream
    # (EnsureRequirements reuses this exchange, so it costs one tiny
    # shuffle and saves the wide ones).  spread_input keeps an explicit
    # count (AQE coalesces column-only repartitions of small inputs
    # back to 1-2 partitions) and never DOWN-partitions a large input
    # (r16 verdict ask #5)
    from ..sources.catalog import spread_input

    return spread_input(base, F.col("doc"))


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    Documents shorter than ``n`` words produce no shingles (guarded —
    Spark's ``sequence(0, negative)`` would count backwards)."""
    base = _doc_words(df, id_col, text_col)
    grams = F.when(
        F.size(F.col("w")) >= n,
        F.expr(f"transform(sequence(0, size(w) - {n}), "
               f"i -> concat_ws(' ', slice(w, i + 1, {n})))"),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc distinct is row-LOCAL: sort the array (O(k log k)) and
    # drop adjacent duplicates — no shuffle, unlike dropDuplicates, and
    # no O(k^2) array_distinct scan.  The sorted array is BOUND TO A
    # COLUMN first: higher-order-function lambdas are interpreted with
    # no common-subexpression elimination, so referencing
    # array_sort(sh) inside the lambda would re-sort the whole array
    # per element — O(k² log k) in the hottest map stage.
    deduped = F.expr("filter(ss, (x, i) -> i == 0 OR x != ss[i - 1])")
    return (
        base.select("doc", F.array_sort(grams).alias("ss"))
        .select("doc", F.explode(deduped).alias("shingle"))
    )


def exact_dedup(df: DataFrame, id_col: str, content_cols: "list[str]") -> DataFrame:
    """Exact duplicate grouping: one row per distinct content, keeping
    the minimum id as the canonical representative plus the group size.
    Single hash-shuffle on the content key; at scale, hash the content
    to a 128-bit digest first so the shuffle key is fixed-width."""
    return (
        df.groupBy(*content_cols)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .select("canonical_id", "n_copies", *content_cols)
    )


def jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: "int | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via posting-list join.

    ``jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|)`` computed from the
    count of shared shingles (inverted-index self-join), never
    materializing the n^2 pair space.  ``max_doc_freq`` drops shingles
    appearing in more than that many docs (stop-shingle cap) — at 100 TB
    this bounds the worst bucket; left None for oracle-exact parity.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    pairs = _cooccurrence(df, id_col, text_col, n, max_doc_freq)
    jac = (F.col("common") * F.lit(1.0)) / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _drop_hot(postings: DataFrame, key: str,
              max_doc_freq: "int | None") -> DataFrame:
    """The stop-shingle cap: drop the postings of every ``key`` value
    that occurs in more than ``max_doc_freq`` rows (one row per (doc,
    key), so rows are documents).  None leaves ``postings`` as is."""
    if max_doc_freq is None:
        return postings
    # broadcast the DROP list (stop-shingles over the cap) and
    # anti-join: it is tiny by construction, while the keep-list is
    # nearly the whole vocabulary — broadcasting that would ship the
    # corpus's shingle space to every executor
    hot = (
        postings.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq).select(key)
    )
    return postings.join(F.broadcast(hot), key, "left_anti")


def _cooccurrence(df: DataFrame, id_col: str, text_col: str, n: int,
                  max_doc_freq: "int | None") -> DataFrame:
    """The posting-list self-join shared by the set-overlap operators:
    (doc_a, doc_b, common, na, nb) with doc_a < doc_b for every pair
    sharing at least one n-gram shingle, ``common`` = |A ∩ B| and
    ``na``/``nb`` the two shingle-set sizes, all after the
    ``max_doc_freq`` stop-shingle cap.  Cost ∝ Σ df(shingle)², never
    n²."""
    # eager localCheckpoint (module docstring: materialization
    # pattern) — the cap, the sizes and both join sides re-read it
    sh = shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    sh = _drop_hot(sh, "shingle", max_doc_freq)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def positional_grams(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Word k-grams WITH positions: one row per (doc, pos, gram),
    ``pos`` 0-based.  Unlike :func:`shingles` (which dedups per doc for
    set semantics), positions are kept — passage detection needs them."""
    base = _doc_words(df, id_col, text_col)
    grams = F.when(
        F.size(F.col("w")) >= k,
        F.expr(
            f"transform(sequence(0, size(w) - {k}), "
            f"i -> struct(i AS pos, concat_ws(' ', slice(w, i + 1, {k})) AS gram))"
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
    return (
        base.select("doc", F.explode(grams).alias("pg"))
        .select("doc", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    )


def duplicate_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_run: int = 2,
    max_gram_freq: "int | None" = None,
) -> DataFrame:
    """Substring-level (passage) duplicate detection across documents.

    The distributed approximation of suffix-array training-data dedup:
    positional k-gram fingerprints are joined across documents, and
    matches on the same alignment diagonal (``pos_a - pos_b``) with
    consecutive positions are merged gaps-and-islands style into
    MAXIMAL shared runs.  A run of ``g`` matching k-grams is a shared
    passage of ``g + k - 1`` words — every shared passage of at least
    ``min_run + k - 1`` words is found exactly (no sampling).

    Scale shape: the only wide operations are the gram-posting
    self-join (bounded per gram by ``max_gram_freq``, the stop-gram cap
    — same trick as jaccard_pairs_exact) and a window PARTITIONED by
    (pair, diagonal) whose groups are bounded by single-document
    length, never corpus size.  No cross product, no global window.

    Returns (doc_a, doc_b, start_a, start_b, n_grams, span_words)
    with doc_a < doc_b, one row per maximal run.
    """
    from pyspark.sql import Window

    pg = positional_grams(df, id_col, text_col, k)
    if max_gram_freq is not None:
        hot = (
            pg.groupBy("gram")
            .agg(F.count_distinct("doc").alias("df"))
            .filter(F.col("df") > max_gram_freq)
            .select("gram")
        )
        pg = pg.join(F.broadcast(hot), "gram", "left_anti")
    a, b = pg.alias("a"), pg.alias("b")
    matches = a.join(
        b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = matches.withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            (F.min("pos_a") - F.col("diag")).cast("bigint").alias("start_b"),
            F.count(F.lit(1)).alias("n_grams"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("span_words"),
        )
        .filter(F.col("n_grams") >= min_run)
        .select("doc_a", "doc_b", "start_a", "start_b", "n_grams", "span_words")
    )


def containment_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional shingle containment: ``|A ∩ B| / |A|`` — the
    subset-duplicate metric.  A short document pasted inside a longer
    one scores near 1.0 here while its Jaccard (normalized by the
    UNION) stays low, so this catches the quote/excerpt duplicates
    :func:`jaccard_pairs_exact` is blind to.  Same posting-list
    (inverted-index) join — cost ∝ Σ df(shingle)², never n², without
    the stop-shingle cap.

    Returns (doc_a, doc_b, containment): doc_a's shingle set is
    ``containment``-contained in doc_b's (directional — both
    orientations of a pair can appear).  Both directions come from the
    one doc_a < doc_b co-occurrence row of the pair."""
    pairs = _cooccurrence(df, id_col, text_col, n, None)
    c = F.col("common") * F.lit(1.0)
    directions = F.array(
        F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
                 (c / F.col("na")).alias("cont")),
        F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"),
                 (c / F.col("nb")).alias("cont")),
    )
    return (
        pairs.select(F.explode(directions).alias("d"))
        .filter(F.col("d.cont") >= threshold)
        .select(F.col("d.a").alias("doc_a"), F.col("d.b").alias("doc_b"),
                F.round("d.cont", 6).alias("containment"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 24,
    rows_per_band: int = 1,
    threshold: float = 0.5,
    portable: bool = False,
    verify: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified by exact Jaccard.

    ``num_hashes`` min-hashes per document, computed JVM-side in one
    tall (doc, i, min-hash) aggregate.  Band ``b`` holds the
    ``rows_per_band`` consecutive min-hashes starting at ``b * r`` and
    its r-tuple of min-hashes is the join key; documents sharing any
    band become candidates (the only pairs ever joined).  With r=1,
    b=24 the candidate recall at j=0.5 is 1 - (1-j)^24 ≈ 1 - 6e-8 —
    statistically indistinguishable from exact.  At larger scale raise
    ``rows_per_band`` to 2-4 to keep buckets sparse (fewer, better
    candidates) at a small recall cost.

    ``portable=False`` hashes with ``xxhash64(i, shingle)`` (JVM-only);
    ``portable=True`` with the 60-bit md5 prefix
    ``conv(substr(md5(i || ':' || shingle), 1, 15), 16, 10)``, which any
    SQL engine reproduces — so even the r > 1 output, whose candidate
    recall is genuinely < 1, is a deterministic set a SQL oracle checks
    and LSH quality can be audited against the exact pair set.

    ``verify=True`` checks every candidate against exact shingle-set
    Jaccard >= ``threshold`` (no false positives) and returns (doc_a,
    doc_b, jaccard); ``verify=False`` returns the unverified candidate
    pairs (doc_a, doc_b).  Always doc_a < doc_b, distinct.
    """
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    sh = shingles(df, id_col, text_col, n)
    if verify:
        # shingles feed both the band build and the verify join
        sh = sh.localCheckpoint(eager=True)
    # one SQL string: building num_hashes struct Columns one by one
    # costs ~15 py4j round trips each
    if portable:
        hash_sql = ("CAST(conv(substr(md5(concat('{i}', ':', shingle)), 1, 15),"
                    " 16, 10) AS BIGINT)")
    else:
        hash_sql = "xxhash64({i}, shingle)"
    structs = F.expr("array({})".format(", ".join(
        f"struct({i} AS i, {hash_sql.format(i=i)} AS h)" for i in range(num_hashes))))
    # the tall (doc, i, min-hash) aggregate, i named band: a plain 2-key
    # min, cheap to codegen-compile at any num_hashes.  At r == 1 each
    # min-hash is its own band, so this already is the band table; at
    # r > 1, band i // r pivots r consecutive min-hashes into h0..h{r-1}
    bands = (
        sh.select("doc", F.explode(structs).alias("x"))
        .groupBy("doc", F.col("x.i").alias("band"))
        .agg(F.min("x.h").alias("bucket"))
    )
    keys = ["bucket"]
    r = rows_per_band
    if r > 1:
        keys = [f"h{j}" for j in range(r)]
        bands = bands.groupBy(
            "doc", (F.col("band") / r).cast("int").alias("band")
        ).agg(*[
            F.min(F.when(F.col("band") % r == j, F.col("bucket"))).alias(k)
            for j, k in enumerate(keys)
        ])
    a, b = bands.alias("a"), bands.alias("b")
    cond = F.col("a.band") == F.col("b.band")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cand = (
        a.join(b, cond & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    if not verify:
        return cand
    # eager localCheckpoint: cand feeds the candidate-doc projection
    # AND the final verify join — without the cut the band self-join
    # (the expensive stage) would run twice; candidates are
    # band-bounded, so the materialization is small by construction
    return _verify_jaccard(cand.localCheckpoint(eager=True), sh, threshold)


def _verify_jaccard(cand: DataFrame, sh: DataFrame,
                    threshold: float) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) whose exact shingle-set Jaccard
    over ``sh`` (doc, shingle) is >= ``threshold``, as (doc_a, doc_b,
    jaccard)."""
    # Build shingle SETS for CANDIDATE docs only — the full-corpus
    # collect_set shuffled every doc's shingle strings through the
    # aggregate even though the verify join immediately discarded all
    # non-candidates; semi-joining the postings down to candidate docs
    # first moves only the verified sliver (guide §2.3: shuffle fewer
    # bytes — at 100 TB the candidate fraction of a healthy corpus is
    # tiny, and it is band-bounded by construction)
    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .distinct()
    )
    sets_a = (
        sh.join(cand_docs, "doc", "semi")
        .groupBy("doc").agg(F.collect_set("shingle").alias("set_a"))
    )
    sets_b = sets_a.select(F.col("doc").alias("doc_b_key"), F.col("set_a").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = inter * F.lit(1.0) / union
    return (
        cand.join(sets_a.withColumnRenamed("doc", "doc_a"), "doc_a")
        .join(sets_b, F.col("doc_b") == F.col("doc_b_key"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    Input: (doc_a, doc_b) similar pairs (undirected edges).  Output:
    (doc_id, cluster_id) where cluster_id is the minimum doc id
    reachable through the similarity graph — the canonical
    representative every member dedups to.

    Algorithm: iterative min-label propagation accelerated with
    POINTER JUMPING (the DataFrame-only connected-components pattern):
    each round every node takes the min label among itself and its
    neighbors (one hop), then replaces its label with its label's own
    label (label-of-label self-join) — the shortcut doubles the
    effective hop distance per round, so convergence is O(log
    diameter) rounds instead of O(diameter).  Chain-shaped near-dup
    graphs (A~B~C~... transitive similarity) are exactly where plain
    propagation degenerates to one hop per shuffle; measured on the
    sf0.1 embeddings similarity graph this drops 17 rounds to 5.
    Labels only ever decrease and always hold a reachable node's id
    (reachability is transitive), and a fixpoint forces equal labels
    across every edge — so the invariant "final label = min reachable
    id" is unchanged; the same recursive-CTE oracles verify both
    variants.  Each round materializes via localCheckpoint to truncate
    the growing lineage — the standard iterative-algorithm pattern on
    Spark.
    """
    # symmetrize in ONE pass: explode each pair into both directions.
    # A two-branch union would evaluate the (potentially expensive:
    # posting-list / blocked-cosine / multi-detector) pair generation
    # twice — a lazy persist doesn't help because both branches race
    # the cold cache inside the same job.  Measured on the 3-detector
    # cascade at sf0.1 this halves the pair-stage cost.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    # initialize each label to min(self, neighbors) — the first
    # propagation round folded into the init aggregate (one groupBy on
    # the already-symmetrized edges), so the loop starts a hop ahead
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.col("src")).alias("label"))
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
            .alias("label"),
        )
        # pointer jump: label <- label(label).  Every label is a node id
        # (initialized to own id, only ever replaced by another node's
        # label), so the lookup side is the same frame; a missing match
        # is impossible but coalesce keeps the row-preserving contract.
        jump = propagated.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        final_label = F.least(
            F.col("label"), F.coalesce("jlabel", F.col("label"))
        )
        # convergence count rides the checkpoint job itself as an
        # observe() metric (labels only ever decrease, so changed ==
        # new < old) — the old filter-over-cached-rows count was still
        # one extra JOB per round (scheduling + result round-trip);
        # folding it in halves the per-round action count (r16 verdict
        # ask #2)
        obs = Observation()
        new_labels = (
            propagated.join(jump, propagated.label == jump.jnode, "left")
            .select(
                "node",
                final_label.alias("label"),
                (final_label < F.col("old_label")).alias("_changed"),
            )
            .observe(obs, F.sum(F.col("_changed").cast("long"))
                     .alias("n_changed"))
            .localCheckpoint()
        )
        labels = new_labels.drop("_changed")
        if int(obs.get["n_changed"] or 0) == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iterations} "
            "iterations (component diameter exceeds the bound) — raise "
            "max_iterations; returning partial labels would silently "
            "split clusters"
        )
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str,
                         bits: int = 64, portable: bool = False) -> DataFrame:
    """SimHash per document: sign-sum of word-hash bits, weighted by
    term frequency (each occurrence votes).

    ``portable=False`` (default): 64-bit xxhash64 word hashes — the
    fast JVM path.  ``portable=True``: 60-bit md5-prefix hashes
    (``conv(substr(md5(word),1,15), 16, 10)``) that any SQL engine
    reproduces bit-for-bit (DuckDB:
    ``('0x' || substr(md5(w),1,15))::BIGINT``) — the oracled path;
    60 bits keeps the value inside a signed 64-bit integer."""
    w = tokenize(df, text_col).select(
        F.col(id_col).alias("doc"), F.explode("words").alias("word")
    )
    if portable:
        bits = 60
        word_hash = F.conv(F.substring(F.md5("word"), 1, 15), 16, 10) \
            .cast("bigint")
    else:
        word_hash = F.xxhash64("word")
    w = w.withColumn("h", word_hash)
    sums = w.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return sums.select("doc", fp.alias("simhash"))


def hamming_band_pairs(fps: DataFrame, bits: int,
                       max_hamming: int,
                       group_col: "str | None" = None,
                       by_value: bool = False) -> DataFrame:
    """EXACT Hamming-radius pairs over a (doc, fp) fingerprint table
    via pigeonhole banding: the fingerprint is split into
    ``max_hamming + 1`` chunks that PARTITION all ``bits`` bits (the
    first ``bits % n_chunks`` chunks take the extra bit when the
    division is uneven — every bit must belong to exactly one chunk or
    the pigeonhole guarantee breaks) — any pair within the radius must
    agree exactly on at least one chunk, so joining per-chunk finds
    ALL such pairs without a cross product (exact, not approximate).
    Shared by SimHash text near-dup (:func:`simhash_pairs`) and the
    image perceptual-hash dedup (multimodal.bmp_ahash).  Returns
    (doc_a, doc_b, hamming) with doc_a < doc_b.

    ``group_col`` (optional) names an extra column of ``fps`` that
    must ALSO match for a pair to qualify — it joins the band key, so
    e.g. video keyframe fingerprints pair frame-0-to-frame-0 in ONE
    banded self-join instead of one join per frame index (the band
    key stays (chunk, key, group): candidates never cross groups,
    which matters when the same fingerprint value recurs across
    frames).  Output then carries the group column too:
    (group, doc_a, doc_b, hamming).

    ``by_value``: run the banded self-join over the DISTINCT
    fingerprint VALUES and expand the qualifying value pairs back onto
    the doc table afterwards (guide §8: decide on a lightweight proxy,
    attach the decision once).  For duplicate-heavy fingerprint
    distributions (perceptual hashes over an image/audio/video corpus,
    where exact re-encodes collapse onto few values) this bounds the
    candidate blowup by the DISTINCT-value structure instead of the
    doc count — Σ collisions drop by the square of the duplication
    factor — and the doc-pair output needs no trailing distinct (each
    doc carries one value, each unordered value pair is enumerated
    once).  Requires one row per (doc[, group]) in ``fps`` (true for
    every fingerprint operator here); identical output row set either
    way.  Near-unique fingerprint spaces (text SimHash) should keep
    the default: the value table would be corpus-sized and the
    expansion joins pure overhead."""
    if not by_value:
        return _band_join(fps, "doc", bits, max_hamming, group_col)
    extra = [group_col] if group_col else []
    # by value, two disjoint branches, each duplicate-free given one
    # row per (doc[, group]), so no trailing distinct is needed:
    # - cross-value pairs: the band join over the distinct (fp[,
    #   group]) table (fp_a < fp_b orders each unordered value pair
    #   once), broadcast back onto the doc table twice — each
    #   qualifying doc pair materializes once, ordered by
    #   least/greatest;
    # - same-value pairs (hamming 0): a plain equi-self-join on fp[,
    #   group] with doc_a < doc_b — the exact-duplicate expansion never
    #   touches the band machinery.
    vpairs = _band_join(fps.select("fp", *extra).distinct(), "fp", bits,
                        max_hamming, group_col)
    left = fps.select(F.col("doc").alias("_da"),
                      F.col("fp").alias("fp_a"), *extra)
    right_cols = [F.col("doc").alias("_db"),
                  F.col("fp").alias("_fpb")]
    if group_col:
        right_cols.append(F.col(group_col).alias("_grp_b"))
    right = fps.select(*right_cols)
    rcond = F.col("fp_b") == F.col("_fpb")
    if group_col:
        rcond = rcond & (F.col(group_col) == F.col("_grp_b"))
    cross = (
        left.join(F.broadcast(vpairs), ["fp_a"] + extra)
        .join(right, rcond)
        .select(*extra,
                F.least("_da", "_db").alias("doc_a"),
                F.greatest("_da", "_db").alias("doc_b"),
                F.col("hamming"))
    )
    scond = (F.col("fp") == F.col("_fpb")) & (F.col("_da") < F.col("_db"))
    if group_col:
        scond = scond & (F.col(group_col) == F.col("_grp_b"))
    same = (
        fps.select(F.col("doc").alias("_da"), "fp", *extra)
        .join(right, scond)
        .select(*extra,
                F.col("_da").alias("doc_a"),
                F.col("_db").alias("doc_b"),
                F.lit(0).cast("bigint").alias("hamming"))
    )
    return cross.unionByName(same)


def _band_join(t: DataFrame, key: str, bits: int, max_hamming: int,
               group_col: "str | None") -> DataFrame:
    """The pigeonhole chunk self-join of :func:`hamming_band_pairs`
    over ``t`` (``key``, fp[, group]), ``key`` either ``doc`` or ``fp``
    itself.  Returns distinct ([group,] key_a, key_b, hamming) with
    key_a < key_b and hamming <= ``max_hamming``."""
    n_chunks = max_hamming + 1
    base_w = bits // n_chunks
    widths = [base_w + (1 if c < bits % n_chunks else 0)
              for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    extra = [group_col] if group_col else []
    cols = [key] if key == "fp" else [key, "fp"]
    chunks = t.select(
        *cols, *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("fp"), offsets[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(*cols, *extra, F.col("ck.chunk").alias("chunk"),
             F.col("ck.key").alias("key"))
    # rename per side instead of alias(): a self-join over an alias
    # pair can resolve a.chunk == b.chunk to the SAME attribute id
    # (Spark warns "trivially true equals") and silently drop the
    # chunk key from the join — output stays exact (the hamming
    # filter guarantees it) but candidates then collide across ALL
    # chunks, n_chunks x the intended work
    a = chunks.select(*[F.col(c).alias(f"{c}_a") for c in cols], *extra,
                      "chunk", "key")
    b_cols = [*[F.col(c).alias(f"{c}_b") for c in cols],
              F.col("chunk").alias("chunk_b"), F.col("key").alias("key_b")]
    if group_col:
        b_cols.append(F.col(group_col).alias("_grp_b"))
    b = chunks.select(*b_cols)
    cond = ((F.col("chunk") == F.col("chunk_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col(f"{key}_a") < F.col(f"{key}_b")))
    if group_col:
        cond = cond & (F.col(group_col) == F.col("_grp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, cond)
        .filter(ham <= max_hamming)
        .select(*extra, f"{key}_a", f"{key}_b",
                ham.cast("bigint").alias("hamming"))
        .distinct()
    )


def hamming_band_selfcheck(fps: DataFrame, bits: int, max_hamming: int,
                           stratum, group_col: "str | None" = None) -> dict:
    """Engine-side EXACTNESS audit of :func:`hamming_band_pairs` on a
    bounded stratum (r13 verdict ask #2): brute-force every pair whose
    BOTH endpoints satisfy ``stratum`` (a boolean Column over the
    (doc, fp) table) and compare against the full-corpus banded join's
    output restricted to stratum-internal pairs.  Pigeonhole banding
    is exact, so the two sets must be IDENTICAL — any divergence is a
    bug, never a tuning artifact.

    This is the scale path for auditing the banded join where the
    O(n^2) oracle is infeasible: the brute side is quadratic only in
    the stratum (2k docs -> 2M candidate pairs), the banded side is
    the actual production output, and the comparison is anti-join
    counts — nothing is collected.  ``group_col`` audits the grouped
    variant of the banded join (e.g. video keyframes keyed by frame):
    the brute side then also demands group equality and the compare
    keys include the group.  Returns the measurement dict; raises
    AssertionError on any missing/extra pair."""
    sub = fps.filter(stratum).localCheckpoint(eager=True)
    # stratum_docs must mean DOCS: in grouped mode the fps table has
    # one row per (doc, group) and a raw count would overstate the
    # stratum n_frames-fold (the quadratic brute bound is doc-sized)
    n_docs = (sub.select("doc").distinct().count() if group_col
              else sub.count())
    grp_cols = [group_col] if group_col else []
    # production output, restricted to pairs internal to the stratum
    docs = F.broadcast(sub.select(F.col("doc").alias("d")).distinct())
    banded = (hamming_band_pairs(fps, bits, max_hamming,
                                 group_col=group_col)
              .join(docs.withColumnRenamed("d", "doc_a"),
                    "doc_a", "leftsemi")
              .join(docs.withColumnRenamed("d", "doc_b"),
                    "doc_b", "leftsemi")
              .localCheckpoint(eager=True))
    # brute side: rename per side, never alias() (the self-join
    # trivially-true-equals lesson); doc_a < doc_b is a BNL theta join,
    # bounded by the stratum size by construction
    a = sub.select(F.col("doc").alias("doc_a"), F.col("fp").alias("fp_a"),
                   *grp_cols)
    b_cols = [F.col("doc").alias("doc_b"), F.col("fp").alias("fp_b")]
    if group_col:
        b_cols.append(F.col(group_col).alias("_grp_b"))
    b = sub.select(*b_cols)
    cond = F.col("doc_a") < F.col("doc_b")
    if group_col:
        cond = cond & (F.col(group_col) == F.col("_grp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    brute = (a.join(b, cond)
             .filter(ham <= max_hamming)
             .select(*grp_cols, "doc_a", "doc_b",
                     ham.cast("bigint").alias("hamming"))
             .localCheckpoint(eager=True))
    keys = grp_cols + ["doc_a", "doc_b", "hamming"]
    missing = brute.join(banded, keys, "left_anti").count()
    extra = banded.join(brute, keys, "left_anti").count()
    out = {
        "stratum_docs": n_docs,
        "brute_pairs": brute.count(),
        "banded_pairs_in_stratum": banded.count(),
        "missing": missing,
        "extra": extra,
    }
    assert missing == 0 and extra == 0, (
        f"banded join diverges from brute force on the stratum: {out}"
    )
    return out


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3,
                  portable: bool = False) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via the
    exact pigeonhole chunk join (:func:`hamming_band_pairs`) over
    64-bit fingerprints.  ``portable=True`` uses the 60-bit md5-prefix
    fingerprint (see :func:`simhash_fingerprints`) so a SQL oracle can
    verify the full output."""
    bits = 60 if portable else 64
    fps = simhash_fingerprints(df, id_col, text_col, bits=bits,
                               portable=portable)
    return hamming_band_pairs(
        fps.select("doc", F.col("simhash").alias("fp")),
        bits=bits, max_hamming=max_hamming)


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    content_cols: "list[str]",
) -> DataFrame:
    """Keep only NEW rows whose content does not already exist in the
    corpus — the shape every append-only ingestion run needs (dedup the
    daily crawl against 100 TB of history).

    Both sides are reduced to a fixed-width 256-bit digest of the
    content columns before the anti-join, so the shuffle carries
    32-byte keys instead of document bodies, and the history side can
    be a pre-materialized digest table (never rescan the corpus text).
    """
    from ..functions.scalars import content_digest

    digest = content_digest(content_cols)  # NULL-safe, separator-safe
    seen = corpus_df.select(digest.alias("_digest")).distinct()
    return (
        new_df.withColumn("_digest", digest)
        .join(seen, "_digest", "left_anti")
        .drop("_digest")
    )


def dedup_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Materialize the deduplicated corpus from cluster labels — the
    step users actually run after near-dup detection: keep ONE
    survivor per duplicate cluster (highest ``quality_col``, ties
    broken on the lowest id) and every unclustered document unchanged.

    ``clusters`` is (doc_id, cluster_id) as produced by
    :func:`duplicate_clusters`; documents absent from it (no near-dup
    edges) are their own singleton cluster via ``coalesce``.  The plan
    is one keyed left join plus one window keyed by ``cluster_id`` —
    both shuffles are on bounded keys (cluster sizes, not corpus
    size), and Spark's WindowGroupLimit pushes the top-1 filter below
    the full sort, so skewed mega-clusters cost a partial top-1 per
    map task.  Adds ``cluster_id`` and ``cluster_size`` to the
    surviving rows.
    """
    from pyspark.sql import Window

    labels = clusters.select(
        F.col("doc_id").alias("_member_id"), F.col("cluster_id").alias("_cid")
    )
    # singleton fallback casts the id to the CLUSTER LABEL's own type:
    # a hardcoded bigint cast would throw under ANSI for string doc
    # ids (URLs), or — with ANSI off — null them all into ONE bogus
    # cluster whose top-1 window silently drops unique documents
    cid_type = labels.schema["_cid"].dataType
    labeled = (
        df.join(labels, df[id_col] == labels["_member_id"], "left")
        .drop("_member_id")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("_cid"), F.col(id_col).cast(cid_type)),
        )
        .drop("_cid")
    )
    w = Window.partitionBy("cluster_id")
    rank = Window.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct n-gram shingles that occur in NO other document.

    The content-originality quality signal — low novelty means the
    document is mostly assembled from text that exists elsewhere in
    the corpus (template spam, aggregator pages), even when no single
    pair crosses a near-dup threshold.  Same posting-list shape as the
    Jaccard operators, but the join is NOVEL-SIDE ONLY: per-doc
    shingle totals need no join at all (one groupBy over the
    postings), and n_novel comes from joining the postings against
    just the df=1 shingles — in a crawl-scale corpus the vast
    majority of shingles are shared boilerplate (df > 1), so the join
    build side and its output shrink from |postings| to |novel
    postings| (this was the growth term when the curation report was
    measured at 5.2x per 10x data).  Exact BIGINT counts, fully
    oracle-checkable.  Returns (doc_id, n_shingles, n_novel, novelty)
    with novelty rounded to 6 dp.
    """
    sh = shingles(df, id_col, text_col, n=n).localCheckpoint(eager=True)
    totals = sh.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel_shingles = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") == 1)
        .select("shingle")
    )
    novel_counts = (
        sh.join(novel_shingles, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        totals.join(novel_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6),
        )
    )


def overlap_pair_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    jaccard_threshold: float = 0.5,
    containment_threshold: float = 0.8,
) -> DataFrame:
    """Jaccard OR containment pairs from ONE posting-list pass.

    Both set-overlap detectors derive from the same (doc_a, doc_b,
    common, |A|, |B|) co-occurrence tuple, so computing them separately
    (as chaining :func:`jaccard_pairs_exact` and
    :func:`containment_pairs_exact` would) runs the shingle explode and
    the posting self-join — the expensive stages — twice.  This fuses
    them: one shingles pass, one co-occurrence join, both thresholds
    applied to the same row.  Containment is directional; either
    direction qualifying emits the (doc_a < doc_b) pair.  Returns
    (doc_a, doc_b) for the multi-signal union.
    """
    c = F.col("common") * F.lit(1.0)
    jac = c / (F.col("na") + F.col("nb") - F.col("common"))
    keep = (
        (jac >= jaccard_threshold)
        | (c / F.col("na") >= containment_threshold)
        | (c / F.col("nb") >= containment_threshold)
    )
    return (
        _cooccurrence(df, id_col, text_col, n, None)
        .filter(keep)
        .select("doc_a", "doc_b")
    )


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: "int | None" = None,
) -> DataFrame:
    """Weighted near-duplicate pairs: n-gram term-frequency cosine via
    an inverted-index join.

    The multiset cousin of :func:`jaccard_pairs_exact` — instead of
    set overlap, each doc is a sparse TF vector over its word n-grams
    and pairs are scored ``cos = <a,b> / (|a|·|b|)``.  Repetition
    (boilerplate, templated spam) weighs in, which set Jaccard by
    construction cannot see.  The dot products are computed on the
    inverted index (one posting row per (doc, gram)), so the n² pair
    space is never materialized, and every cross-row sum is exact
    INTEGER arithmetic — parity with the SQL oracle is exact by
    construction, only the final sqrt/divide is double.

    ``max_doc_freq`` drops grams appearing in more docs than the cap
    (broadcast anti-join on the tiny hot-list, same rationale as
    jaccard's) — at 100 TB this bounds the worst posting list; the
    cap applies BEFORE norms so dropped grams leave the score's
    denominator too (both engines agree).

    Returns (doc_a, doc_b, cosine_tf) with doc_a < doc_b.
    """
    # gram extraction is positional_grams' (shared tokenization, guard,
    # and doc-repartition); collapsing positions into counts IS the TF
    tf = (
        positional_grams(df, id_col, text_col, k=n)
        .groupBy("doc", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=True)
    )
    tf = _drop_hot(tf, "gram", max_doc_freq)
    norms = tf.groupBy("doc").agg(F.sum(F.col("tf") * F.col("tf")).alias("ss"))
    a, b = tf.alias("a"), tf.alias("b")
    dots = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("ss").alias("ssb"))
    cos = F.col("dot") / (F.sqrt("ssa") * F.sqrt("ssb"))
    return (
        dots.join(na, "doc_a").join(nb, "doc_b")
        .filter(cos >= threshold)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine_tf"))
    )


def jaccard_prefix_lists(sh: "DataFrame", threshold: float):
    """The PPJoin prefix posting lists over a (doc, shingle) set:
    shingles ranked rarest-first (document frequency asc, shingle asc)
    within each doc, cut to ``p = n - ceil(t*n) + 1``.  The threshold
    is FLOORED to 2dp — a rounded-up t' > t would shrink the prefix
    below the theorem's requirement and silently drop true pairs,
    while flooring only enlarges the candidate set that the exact
    verify then trims.  Shared by :func:`prefix_filter_jaccard_pairs`
    and the funnel audit so the candidate definition can never drift
    between them.  Returns (prefix_lists, per_doc_counts)."""
    import math

    from pyspark.sql import Window

    counts = sh.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    dfq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    # dfq is VOCABULARY-sized and counts is DOCS-sized — both grow
    # with the corpus, and the checkpointed input's estimated stats
    # can sneak either under the broadcast threshold (sf10: broadcast
    # OOM on the 8g driver).  Sort-merge, not shuffle_hash: unlike
    # winnowing's df-capped posting list these build sides are
    # UNCAPPED, and a shuffle-hash map that cannot spill OOMs at sf10
    # — SMJ spills and is the only shape that survives 100 TB.
    ranked = (sh.hint("merge").join(dfq.hint("merge"), "shingle")
              .select("doc", "shingle",
                      F.row_number().over(w).alias("rk")))
    # p = n - ceil(t*n) + 1; ceil(t*n) for t at 2dp as integer math:
    # (100t * n + 99) div 100
    t_num = int(math.floor(threshold * 100))
    pref = (ranked.join(counts.hint("merge"), "doc")
            .filter(F.col("rk")
                    <= F.col("n_sh")
                    - F.expr(f"({t_num} * n_sh + 99) div 100") + 1)
            .select("doc", "shingle"))
    return pref, counts


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin family,
    Xiao et al.): order every document's shingles by a GLOBAL rarity
    order (document frequency asc, shingle asc), keep only the first
    ``p = n_doc - ceil(t * n_doc) + 1`` as the candidate-generating
    prefix — the prefix-filtering theorem guarantees any pair with
    J >= t shares at least one prefix shingle, so joining prefixes
    (instead of full posting lists) loses nothing while the rare-first
    order makes the surviving posting lists the SHORTEST ones.  This
    is the candidate-pruning rung between the stop-shingle cap and
    MinHash: exact output, sub-posting-join cost.  Candidates are then
    exact-verified against the full shingle sets, so correctness never
    rests on the theorem — only the pruning power does.  Plan: one
    shingle pass (checkpointed), a df aggregate, a doc-keyed rank window
    (per-doc-bounded), the prefix self-join, and the verify join.
    Returns (doc_a, doc_b, jaccard), identical to
    :func:`jaccard_pairs_exact`.
    """
    from pyspark.sql import Window

    # eager localCheckpoint (module docstring: materialization pattern)
    sh = shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    pref, _counts = jaccard_prefix_lists(sh, threshold)
    # the prefix relations are corpus-sized, and the checkpointed
    # plans' estimated stats can sneak under the broadcast threshold —
    # at sf10 Spark tried to broadcast one and blew the 8g driver.
    # Sort-merge (spillable), not shuffle_hash: these sides are
    # uncapped (see jaccard_prefix_lists) — the only shape that
    # survives 100 TB.
    a = pref.select(F.col("doc").alias("doc_a"),
                    F.col("shingle").alias("s")).hint("merge")
    b = pref.select(F.col("doc").alias("doc_b"),
                    F.col("shingle").alias("s")).hint("merge")
    # checkpoint: cand feeds the candidate-doc projection AND the
    # verify join — without the cut the prefix self-join (the
    # expensive stage) would run twice
    cand = (a.join(b, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct()
            .localCheckpoint(eager=True))
    # verify via candidate-restricted shingle-set ARRAYS (the
    # minhash-verify shape): the previous form expanded every
    # candidate pair by doc_a's full posting list (Σ|A| join rows
    # over candidate pairs, two more SMJs for the sizes); one row per
    # candidate doc moves instead, |A∩B| is a hash-set intersect per
    # pair, and the sizes ride along as size(set) — sh is distinct
    # per (doc, shingle), so size(set) == the old n_sh exactly.
    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .distinct()
    )
    sets = (sh.join(cand_docs, "doc", "semi")
            .groupBy("doc").agg(F.collect_set("shingle").alias("ss")))
    sa = sets.select(F.col("doc").alias("doc_a"),
                     F.col("ss").alias("sa")).hint("merge")
    sb = sets.select(F.col("doc").alias("doc_b"),
                     F.col("ss").alias("sb")).hint("merge")
    common = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    # filter on the UNROUNDED ratio, round only for output — exactly
    # like jaccard_pairs_exact, so the two strategies can never
    # disagree at a rounding boundary of the threshold
    jac = (common * F.lit(1.0)
           / (F.size("sa") + F.size("sb") - common))
    return (cand.hint("merge").join(sa, "doc_a").join(sb, "doc_b")
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


def cross_snapshot_containment(new_df: DataFrame,
                               prior_fingerprints: DataFrame,
                               id_col: str, text_col: str,
                               n: int = 5,
                               store_bloom: "DataFrame | None" = None,
                               bloom_bits: "int | None" = None,
                               bloom_hashes: int = 5,
                               bloom_portable: bool = True) -> DataFrame:
    """Incremental (cross-snapshot) dedup: per-NEW-document containment
    of its shingle set in a PRIOR-corpus fingerprint store.

    This is the production shape of crawl-over-crawl dedup at 100 TB:
    the prior corpus is never re-shingled — its distinct shingle set
    (in practice 64-bit hashes, bucketed by shingle on disk) is a
    PERSISTED store that each new snapshot joins against.  Cost is
    linear in the new crawl: one shingle pass over the new docs, one
    sort-merge join against the store (co-located for free when the
    store is bucketed by shingle), one doc-keyed count.  Contrast
    :func:`jaccard_pairs_exact`, which compares a corpus against
    itself — here the quadratic pair space never exists because the
    store is a SET, not a document list.

    ``prior_fingerprints`` must carry a distinct ``shingle`` column
    (the store is deduplicated once at build time, not per query).
    Returns (doc_id, n_shingles, n_seen, containment_ppm) for every
    new document that produced at least one shingle; containment_ppm
    is the exact integer floor(n_seen * 1e6 / n_shingles), so the
    drop decision is oracle-checkable with no float boundary.

    ``store_bloom``: optionally, the store's Bloom filter as a
    (w, word) table (operators/bloom.py ``bloom_words_table``, built
    once per snapshot alongside the store itself and persisted next
    to it).  When given, the store join's probe side is pre-pruned
    through ``bloom_pass_keys`` — new-crawl shingles failing the
    Bloom are provably absent from the store (no false negatives)
    and never reach the store join, so it moves only the pass
    fraction (roughly containment + measured fp rate, see the
    bloom_store_fp_audit query).  The answer is bit-identical with
    or without the filter; only shuffle volume changes.  The words
    table is num_bits/64 rows — bounded state, broadcast-probed —
    and probe cost is FLAT in num_bits (measured sf1: 2.4-3.0 s at
    2^20 through 2^25 bits), unlike the literal-array path whose
    per-task plan weight grows with the filter.
    """
    # eager localCheckpoint (module docstring: materialization
    # pattern) — the totals aggregate and the store join both read it
    sh = shingles(new_df, id_col, text_col, n).localCheckpoint(eager=True)
    totals = sh.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    probe = sh
    if store_bloom is not None:
        from .bloom import bloom_pass_keys

        if bloom_bits is None:
            # a defaulted size that differs from the build would make
            # member shingles probe the wrong word — silent false
            # negatives; the build parameters travel with the store
            raise ValueError(
                "store_bloom requires bloom_bits — pass the exact "
                "num_bits the words table was built with"
            )
        # map-side prune: each (doc, shingle) row probes the broadcast
        # word table in place — no distinct, no join-back, no shuffle
        # before the store join itself
        # bloom_portable must match the words table's build flag
        # (bloom_words_table contract)
        probe = bloom_pass_keys(
            sh, "shingle", store_bloom, bloom_bits, bloom_hashes,
            portable=bloom_portable)
    # sort-merge, not broadcast: both sides are uncapped and corpus-
    # sized (the store IS the prior corpus's vocabulary), and a
    # checkpointed store's estimated stats can sneak under the
    # broadcast threshold (the prefix-filter sf10 OOM class)
    seen = (probe.hint("merge")
            .join(prior_fingerprints.select("shingle").hint("merge"),
                  "shingle")
            .groupBy(F.col("doc").alias("doc_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_seen")))
    return (totals.join(seen, "doc_id", "left")
            .select("doc_id", "n_shingles",
                    F.coalesce("n_seen", F.lit(0)).cast("bigint")
                    .alias("n_seen"),
                    F.expr("(coalesce(n_seen, 0) * 1000000) DIV n_shingles")
                    .cast("bigint").alias("containment_ppm")))
