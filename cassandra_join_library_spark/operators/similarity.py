"""Embedding similarity search over ``array<float>`` columns.

Brute-force cosine top-k is the exactness baseline (query side
broadcast, corpus side streamed — scales linearly in corpus size);
random-hyperplane LSH bucketing is the 100 TB path (candidates only
from matching buckets).  Vector math runs JVM-side via
``zip_with``/``aggregate`` higher-order functions — no Python UDF in
the hot path; elements are cast to double and folded sequentially so
results are bit-deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..parity import MAX_PARITY_DECIMAL_SCALE

#: decimal places every similarity, mean and error is rounded to before
#: it is compared or summed, so both engines see the same value
_DP = MAX_PARITY_DECIMAL_SCALE


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic double math)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(vec_col)
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(v, v)))


def _id_vec_norm(df: DataFrame, id_col: str, vec_col: str,
                 *extra: Column) -> DataFrame:
    """``df`` as ``(id, vec, norm, *extra)``: its id, its vector as
    doubles and the vector's norm."""
    return with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), F.col("_vec").alias("vec"),
        F.col("_norm").alias("norm"), *extra,
    )


def cosine(a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column) -> Column:
    """try_divide: a zero vector has no direction, so its cosine is
    NULL — which every downstream threshold filter and DESC rank
    (NULLS LAST) naturally excludes.  A plain division would throw
    DIVIDE_BY_ZERO under ANSI mode (the Spark 4 default) and kill the
    whole query on one degenerate row."""
    return F.try_divide(_dot(a_vec, b_vec), a_norm * b_norm)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (small) query side is broadcast against the corpus — a map-only
    pass over the corpus with per-partition partial top-k folded by the
    rank filter; no corpus shuffle.  Ranks break ties on neighbor id
    for a total order.  Returns (query_id, neighbor_id, rank, cosine_sim).
    """
    scored = (
        _scored_against_queries(corpus, queries, id_col, vec_col)
        # zero-norm vectors (NULL cosine, see cosine()) are not
        # neighbors — drop them before ranking so they never pad the
        # top-k tail
        .filter(F.col("cosine_sim").isNotNull())
    )
    return _top_k(scored, k).select(
        "query_id", "neighbor_id", "rank", "cosine_sim")


def _side(df: DataFrame, id_col: str, vec_col: str, id_as: str,
          prefix: str, *extra: Column) -> DataFrame:
    """``df`` as ``(id_as, *extra, <prefix>_vec, <prefix>_norm)``: its
    id, its vector as doubles and the vector's norm."""
    return with_norm(df, vec_col).select(
        F.col(id_col).alias(id_as), *extra,
        F.col("_vec").alias(f"{prefix}_vec"),
        F.col("_norm").alias(f"{prefix}_norm"),
    )


def _qc_cosine() -> Column:
    """Cosine of the query (``q_*``) and corpus (``c_*``) vectors,
    rounded to ``_DP``."""
    return F.round(
        cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")),
        _DP,
    )


def _scored_against_queries(corpus: DataFrame, queries: DataFrame,
                            id_col: str, vec_col: str) -> DataFrame:
    """``(query_id, neighbor_id, cosine_sim)`` for every query and every
    other corpus vector: the small query side is broadcast and the
    corpus streamed map-only."""
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, "query_id", "q")
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _qc_cosine().alias("cosine_sim"))
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The first ``k`` rows per query of ``scored``, ranked (``rank``)
    by ``cosine_sim`` descending, then neighbor id."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All pairs of ``vec_id`` with ``embedding`` cosine >= threshold
    (embedding near-dup check).

    O(n^2) pair space — correctness baseline for small n; use
    :func:`lsh_cosine_pairs` at scale.  Returns (id_a, id_b, cosine_sim)
    with id_a < id_b."""
    n = _id_vec_norm(df, "vec_id", "embedding")
    a = n.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("norm").alias("na"))
    b = n.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"))
    sim = F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), _DP)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


#: hash blocks of :func:`cosine_pairs_blocked`: B(B+1)/2 block-pair tasks
COSINE_BLOCKS = 16


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via BLOCKED pair-space
    enumeration — the distributed-exact plan, no cartesian/BNLJ.

    Exact all-pairs is Θ(n²) dot products no matter the plan; what
    kills ``a.join(b, id_a < id_b)`` at scale is the PLAN — Spark
    executes an inequality-only join as BroadcastNestedLoopJoin (one
    whole side broadcast: driver/executor OOM, zero partitioning of
    the work).  Here ids hash into ``COSINE_BLOCKS`` blocks, the
    B(B+1)/2 unordered block pairs are a driver-literal frame
    (constant size), each row is tagged to its block pairs by
    broadcast hash join, and candidates meet in a SHUFFLED EQUI-JOIN
    on the block-pair id: B²/2 uniform tasks, each streaming two
    n/B-row blocks — bounded memory, full-cluster parallelism,
    O(n·B) shuffle.  Pick COSINE_BLOCKS ≈ sqrt(total cores) per the
    standard blocked-similarity-join tradeoff.  For near-dup
    thresholds prefer :func:`lsh_cosine_pairs` (sub-quadratic);
    dense near-orthogonal embeddings at loose thresholds admit no
    exact sub-quadratic pruning, so the blocked plan is the honest
    exact path.
    """
    spark = df.sparkSession
    from ..sources.catalog import local_frame

    n_blocks = COSINE_BLOCKS
    pairs = local_frame(
        spark,
        [(i * n_blocks + j, i, j)
         for i in range(n_blocks) for j in range(i, n_blocks)],
        "pid bigint, bi int, bj int",
    )
    n = _id_vec_norm(df, id_col, vec_col,
                     F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
                     .cast("int").alias("blk"))
    left = n.join(F.broadcast(pairs), n["blk"] == pairs["bi"]).select(
        "pid", "bi", "bj",
        F.col("id").alias("ida"), F.col("vec").alias("va"),
        F.col("norm").alias("na"),
    )
    right = n.join(
        F.broadcast(pairs.select("pid", F.col("bj").alias("rbj"))),
        n["blk"] == F.col("rbj"),
    ).select(
        "pid",
        F.col("id").alias("idb"), F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    sim = F.round(
        cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), _DP
    )
    return (
        left.join(right, "pid")
        # same-block pair: each unordered {x,y} arrives twice — keep one;
        # cross-block pair: arrives once (blocks disjoint), any id order
        .filter((F.col("bi") != F.col("bj")) | (F.col("ida") < F.col("idb")))
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int = 32,
    nprobe: int = 4,
    centroids_df: "DataFrame | None" = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid, search only the query's ``nprobe``
    closest lists.

    By default centroids are chosen deterministically (every
    ``centroid_stride``-th vector by id) — no RNG, no iteration.  Pass
    ``centroids_df`` (columns ``cent_id``, ``<vec_col>``) to use
    TRAINED centroids instead — e.g. :func:`..corpus.kmeans_fit`
    output — which is exactly the "precompute real centroids offline
    and broadcast them" path the stride default stands in for.
    Assignment is a map-side broadcast join (centroid set is small);
    the probe join touches only ``nprobe/num_centroids`` of the
    corpus — the scale path when brute force is too wide.

    Returns (query_id, neighbor_id, rank, cosine_sim).
    """
    from pyspark.sql import Window

    if centroids_df is not None:
        cent = with_norm(centroids_df, vec_col).select(
            F.col("cent_id"),
            F.col("_vec").alias("cent_vec"), F.col("_norm").alias("cent_norm"),
        )
    else:
        cent = with_norm(
            corpus.filter((F.col(id_col) % centroid_stride) == 0), vec_col
        ).select(
            F.col(id_col).alias("cent_id"),
            F.col("_vec").alias("cent_vec"), F.col("_norm").alias("cent_norm"),
        )

    def assign(side: DataFrame, sid: str, n_lists: int) -> DataFrame:
        """nearest-`n_lists` centroid ids per vector (broadcast argmin).

        The assignment similarity is ROUNDED before ranking (same
        convention as every ranked score in this engine): unrounded
        ranking would depend on sub-ulp float differences between
        engines, while rounding + the cent_id tiebreak gives one
        portable assignment any SQL twin reproduces."""
        sim = F.round(
            cosine(F.col("_vec"), F.col("cent_vec"),
                   F.col("_norm"), F.col("cent_norm")),
            _DP,
        )
        scored = (
            side.join(F.broadcast(cent), F.lit(True))
            .withColumn("_csim", sim)
        )
        if n_lists == 1:
            # CORPUS side: argmax as an AGGREGATE, not a window — the
            # window would hash-exchange num_centroids copies of every
            # corpus vector (payload included) to rank them, a
            # ~centroids× corpus shuffle; max_by partial-aggregates
            # map-side and shuffles ONE row per vector.  Tie-break
            # matches the window's (sim desc, cent_id asc): max of
            # (sim, -cent_id).  NULL sims (zero vectors) order lowest,
            # so a real centroid wins whenever one exists.
            other = [c for c in side.columns if c != sid]
            best = F.max_by(
                F.struct(F.col("cent_id"), *[F.col(c) for c in other]),
                F.struct(F.col("_csim"), (-F.col("cent_id")).alias("_nc")),
            ).alias("_best")
            agg = scored.groupBy(sid).agg(best)
            return agg.select(
                sid, *[F.col(f"_best.{c}").alias(c)
                       for c in ["cent_id", *other]]
            )
        w = Window.partitionBy(sid).orderBy(F.col("_csim").desc(), F.col("cent_id").asc())
        return (
            scored
            .withColumn("_crank", F.row_number().over(w))
            .filter(F.col("_crank") <= n_lists)
            .drop("_csim", "_crank", "cent_vec", "cent_norm")
        )

    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec"), F.col("_norm"),
    )
    c_assigned = assign(c, "neighbor_id", 1).select(
        "neighbor_id", F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"), F.col("cent_id").alias("list_id"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_vec"), F.col("_norm"),
    )
    q_assigned = assign(q, "query_id", nprobe).select(
        "query_id", F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"), F.col("cent_id").alias("list_id"),
    )

    scored = (
        c_assigned.join(F.broadcast(q_assigned), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _qc_cosine().alias("cosine_sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(scored, k).select(
        "query_id", "neighbor_id", "rank", "cosine_sim")


def _plane_coeffs(plane: int, dim: int) -> "list[float]":
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1]:
    md5 of "plane:j" → 60-bit int → mod-2001 grid.  No RNG —
    reproducible across runs and cluster sizes — and PORTABLE: any SQL
    engine recomputes the identical doubles
    (``('0x'||substr(md5(p||':'||j),1,15))::BIGINT % 2001 - 1000) /
    1000.0`` in DuckDB), so LSH bucketing is fully oracle-checkable.
    The 0.001 coefficient grid costs nothing: hyperplane quality needs
    direction diversity, not coefficient precision.  Evaluated in
    PYTHON at plan-build time — the planes enter the plan as literal
    arrays (constant-folded, zero per-row hashing)."""
    import hashlib

    return [
        (int(hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[:15], 16)
         % 2001 - 1000) / 1000.0
        for j in range(dim)
    ]


def _hyperplane(plane: int, dim: int) -> Column:
    """Literal-array column of :func:`_plane_coeffs` — bound as ONE
    numpy-backed ``Literal``: ``F.lit(python_list)`` compiles to a
    ``CreateArray`` whose dim children are re-evaluated per input row
    (the bloom.py wave-31 finding; with n_tables x n_planes planes
    that was thousands of per-row literal constructions)."""
    import numpy as np

    return F.lit(np.asarray(_plane_coeffs(plane, dim), dtype=np.float64))


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    threshold: float = 0.9,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs.

    ``n_tables`` independent signatures of ``n_planes`` sign bits each;
    vectors sharing any full signature become candidates, verified with
    exact cosine (no false positives).  Collision probability per
    table is (1 - θ/π)^n_planes, so the method shines for NEAR-DUP
    thresholds: at cos θ = 0.9 a 12-bit signature collides with ~0.65
    per table (4 tables → ~98.5% recall).  At loose thresholds like
    cos 0.4 (θ ≈ 66°) recall degrades fundamentally — fewer planes /
    more tables trade candidate volume back toward brute force.
    Candidate join touches only bucket-colliding ids — no cross product.

    SIZING (measured, SCALE.md round-12): candidate volume ≈
    n² · n_tables / 2^n_planes, and candidate verification is the
    whole cost — hold bucket occupancy constant as the corpus grows
    (n_planes ≈ log2(n) − 5 for near-dup thresholds; sf1 measured
    12.3 s → 7.5 s from 12 → 18 planes at identical output).  At
    loose thresholds the needed plane count is too low for that to
    work and LSH stops paying vs blocked brute-force; run the
    recall-audit queries before committing to an index shape.
    """
    n = _id_vec_norm(df, id_col, vec_col)
    # a dim mismatch would NULL every signature (zip_with pads with
    # NULL) and the sig-equality join would silently return ZERO pairs
    # — a wrong answer for a pure parameter mistake; fail loudly on the
    # first offending row instead (assert_true evaluates per row)
    n = n.filter(F.assert_true(
        F.size("vec") == dim,
        F.format_string(
            "lsh_cosine_pairs: vector length %s != dim=%s — pass the "
            "embedding's true dimension", F.size("vec").cast("string"),
            F.lit(str(dim)),
        ),
    ).isNull())
    sigs = []
    for t in range(n_tables):
        bits = None
        for p in range(n_planes):
            plane = _hyperplane(t * n_planes + p, dim)
            bit = (_dot(F.col("vec"), plane) > 0).cast("long")
            term = F.shiftleft(bit, p)
            bits = term if bits is None else bits.bitwiseOR(term)
        sigs.append(F.struct(F.lit(t).alias("table"), bits.alias("sig")))
    buckets = n.select(
        "id", "vec", "norm", F.explode(F.array(*sigs)).alias("b")
    ).select("id", "vec", "norm", F.col("b.table").alias("table"), F.col("b.sig").alias("sig"))

    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.table") == F.col("b.table"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("va"), F.col("a.norm").alias("na"),
            F.col("b.vec").alias("vb"), F.col("b.norm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), _DP)
    return (
        cand.select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    centroid_stride: int = 7,
    refine: int = 4,
) -> DataFrame:
    """Product-quantization (PQ) approximate top-k with asymmetric
    distance + exact re-rank — the memory-bound ANN path.

    Vectors are L2-normalized, split into ``m`` subspaces, and each
    subspace is vector-quantized against a ``ks``-entry codebook, so a
    corpus vector compresses to ``m`` small codes (m bytes at ks<=256
    — at 100 TB the codes table is ~1000x smaller than the raw
    vectors and is the ONLY thing the search scans).  A query
    precomputes per-subspace distance tables to all codebook entries;
    the approximate distance to any corpus vector is ``m`` table
    lookups (ADC).  The best ``k*refine`` candidates per query are
    re-ranked with exact cosine for the final top-k.

    Spark shape: the codebook is stride-sampled deterministically (no
    RNG; swap in k-means-trained codebooks offline exactly like
    ivf_topk's ``centroids_df``) and is CONSTANT-size driver state
    (m x ks x dim/m doubles) baked into the plan as literals —
    encoding is a map-only pass, search is a broadcast-query map-only
    pass + per-query top-k, no corpus shuffle anywhere.  All math is
    JVM higher-order functions; squared-L2 on normalized vectors
    orders identically to cosine (||a-b||^2 = 2 - 2cos).

    Returns (query_id, neighbor_id, rank, cosine_sim).
    """
    from pyspark.sql import Window

    train = (
        with_norm(
            corpus.filter((F.col(id_col) % centroid_stride) == 0), vec_col
        )
        .orderBy(id_col)
        .limit(ks)
        .select(
            F.when(
                F.col("_norm") > 0,
                F.transform(F.col("_vec"), lambda x: x / F.col("_norm")),
            ).otherwise(F.col("_vec")).alias("v")
        )
        .collect()
    )
    if len(train) < ks:
        raise ValueError(f"need >= {ks} training vectors, got {len(train)}")
    dim = len(train[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    # m x ks x d codebook — constant-size driver state (the documented
    # broadcast-small-state pattern; see DESIGN rule 1)
    books = [[list(row["v"][s * d:(s + 1) * d]) for row in train] for s in range(m)]

    def lit_arr(vals):
        # one numpy-backed Literal, not a per-row CreateArray of d
        # scalar children (the bloom.py wave-31 finding); float() on
        # each entry first so the doubles are bit-identical to the
        # previous scalar-literal plan
        import numpy as np

        return F.lit(np.asarray([float(x) for x in vals],
                                dtype=np.float64))

    def sqdist(sub_col, lit_vec):
        # rounded like every ranked score in this engine: code argmin,
        # ADC tables, and the shortlist rank all become portable across
        # engines (sub-ulp float-order differences washed out)
        return F.round(
            F.aggregate(
                F.zip_with(sub_col, lit_vec, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            _DP,
        )

    def normed(df):
        return with_norm(df, vec_col).select(
            F.col(id_col).alias("id"),
            F.when(
                F.col("_norm") > 0,
                F.transform(F.col("_vec"), lambda x: x / F.col("_norm")),
            ).otherwise(F.col("_vec")).alias("nv"),
        )

    def sub(s):
        return F.slice(F.col("nv"), s * d + 1, d)

    def book_lit(s):
        # the whole subspace codebook as ONE literal array<array<double>>
        return F.array(*[lit_arr(books[s][j]) for j in range(ks)])

    def dists_arr(s):
        # one higher-order transform over the literal codebook: the
        # sqdist fold is code-generated ONCE per subspace instead of
        # ks times (2×m×ks separate fold expressions made the task
        # binary ~1.7 MB and Janino compile time dominate small runs;
        # arithmetic, rounding, and results are identical)
        return F.transform(book_lit(s), lambda bv: sqdist(sub(s), bv))

    code_cols = []
    for s in range(m):
        dists = dists_arr(s)
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int").alias(f"code{s}")
        )
    c = normed(corpus).select(
        F.col("id").alias("neighbor_id"), F.col("nv").alias("c_vec"), *code_cols
    )

    dt_cols = [dists_arr(s).alias(f"dt{s}") for s in range(m)]
    q = normed(queries).select(
        F.col("id").alias("query_id"), F.col("nv").alias("q_vec"), *dt_cols
    )

    approx = F.lit(0.0)
    for s in range(m):
        approx = approx + F.element_at(F.col(f"dt{s}"), F.col(f"code{s}") + 1)
    approx = F.round(approx, _DP)

    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_approx", approx)
        # degenerate corpus vectors (NULL element / wrong length) give a
        # NULL ADC distance, and asc() defaults NULLS FIRST — unfiltered
        # they would outrank every real candidate and evict the true
        # neighbors from the k·refine shortlist
        .filter(F.col("_approx").isNotNull())
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("_approx").asc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= k * refine)
    )
    # exact re-rank of the shortlist (vectors already unit-norm)
    sim = F.round(_dot(F.col("q_vec"), F.col("c_vec")), _DP)
    return _top_k(short.withColumn("cosine_sim", sim), k).select(
        "query_id", "neighbor_id", "rank", "cosine_sim")


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding centroids (class means), one row per
    (label, dimension).

    The offline half of centroid-based classification / clustering
    diagnostics: posexplode the vector, aggregate per (label, pos).
    Cross-ROW float summation is order-dependent, so each element is
    rounded to 6 dp and summed as DECIMAL — exact,
    order-independent, bit-stable under re-partitioning, and
    reproducible in the SQL oracle.  The mean itself is ALSO integer:
    the decimal sum scaled to 10^6 units divides by the count
    with explicit round-half-away — ``round(double_quotient, 6)``
    was the one float op left, and the sf0.1 oracle sweep caught
    Spark and DuckDB rounding a boundary quotient apart (their
    double-round semantics differ in the last ulp); the final value
    is int/10^6, an identical IEEE division in both engines.
    Scaled-sum bound: |Σ round(val)| < 9.2e12 at 6 dp before
    BIGINT wraps — ~9e12 rows of unit-norm dims per (label, pos)
    cell, far past any real corpus.
    One shuffle on the bounded (label, pos) key — at 100 TB this is
    |labels|·dim cells of constant size, and the partial aggregation
    (map-side combine) does the heavy summation before the exchange.
    Returns (label, pos, n_vecs, mean_val).
    """
    from .stats import _RDIV

    scale = 10 ** _DP
    dec = f"decimal({21 + _DP},{_DP})"
    el = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("pos", "val"),
    )
    agg = (
        el.groupBy(F.col("label"), F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.sum(F.round("val", _DP).cast(dec))
             * F.lit(scale)).cast("long").alias("_su"),
        )
    )
    mean_micro = F.expr(
        "(CASE WHEN _su < 0 THEN -1 ELSE 1 END) * "
        + _RDIV.format(a="abs(_su)", b="n_vecs")
    )
    return agg.select(
        "label", "pos", "n_vecs",
        (mean_micro.cast("double") / F.lit(float(scale))).alias("mean_val"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the near-misses a retrieval/embedding model must learn to
    separate.

    Identical plan shape to :func:`cosine_topk_bruteforce` (broadcast
    query side, map-only corpus pass, per-query top-k rank) with the
    label-inequality predicate folded into the join condition, so
    same-label pairs are dropped BEFORE scoring.  Returns (query_id,
    query_label, neighbor_id, neighbor_label, rank, cosine_sim).
    """
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c",
              F.col(label_col).alias("neighbor_label"))
    q = _side(queries, id_col, vec_col, "query_id", "q",
              F.col(label_col).alias("query_label"))
    scored = c.join(
        F.broadcast(q), F.col("query_label") != F.col("neighbor_label")
    ).select("query_id", "query_label", "neighbor_id", "neighbor_label",
             _qc_cosine().alias("cosine_sim"))
    return _top_k(scored, k)


def rrf_fuse(
    sparse: DataFrame,
    dense: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers: score(d) = Σ 1/(k_const +
    rank_r(d)) over the rankers that returned d — the standard hybrid
    (sparse lexical ⊕ dense vector) retrieval combiner; rank-based, so
    no score normalization across incomparable scales is needed.

    One FULL OUTER join on the doc id (both inputs are top-N slices —
    bounded), contributions rounded to 9 dp and summed as DECIMAL (the
    engine's order-independent float discipline), final top-k via
    orderBy+limit.  Returns (id, rrf_score, in_sparse, in_dense).
    """
    s = sparse.select(F.col(id_col).alias("_id"),
                      F.col(rank_col).alias("_rs"))
    d = dense.select(F.col(id_col).alias("_id"),
                     F.col(rank_col).alias("_rd"))
    contrib = lambda r: F.coalesce(
        F.round(F.lit(1.0) / (F.lit(k_const) + r), 9), F.lit(0.0)
    ).cast("decimal(18,9)")
    fused = (
        s.join(d, "_id", "full_outer")
        .select(
            F.col("_id").alias(id_col),
            (contrib(F.col("_rs")) + contrib(F.col("_rd")))
            .cast("double").alias("rrf_score"),
            F.col("_rs").isNotNull().alias("in_sparse"),
            F.col("_rd").isNotNull().alias("in_dense"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Radius (range) search: every corpus vector with cosine >=
    threshold of each query — the vector-DB "range query" twin of
    :func:`cosine_topk_bruteforce` (fixed similarity bar instead of a
    fixed result count, so callers see ALL sufficiently-close matches,
    e.g. for recall-critical contamination checks).

    Same plan as the top-k path minus the ranking window: the (small)
    query side is broadcast, the corpus is scanned once map-only with
    the threshold applied inline — no corpus shuffle, no window, and
    the output is bounded by the hit count rather than k·|queries|.
    Returns (query_id, neighbor_id, cosine_sim).
    """
    return (
        _scored_against_queries(corpus, queries, id_col, vec_col)
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023 shape: partition the space, drop all-but-one of
    each within-partition near-duplicate group).

    The partitions here are DETERMINISTIC hyperplane sign buckets (the
    portable md5-grid planes of :func:`lsh_cosine_pairs`, single
    table) rather than trained k-means cells, which keeps the whole
    pipeline replayable in the SQL oracle — bucket assignment, exact
    within-bucket cosine, and the keep/drop verdict are all
    value-checked, not just recall-bounded.  A vector is DROPPED when
    a lower-id vector in its bucket is within the threshold (keep-
    first policy, the deterministic stand-in for SemDeDup's
    keep-closest-to-centroid).

    Scale shape: bucket assignment is one map-only pass (literal plane
    arrays, constant-folded); the pair join is equi on bucket_id —
    candidates never leave their bucket, so the quadratic term is
    bounded by the largest bucket, not the corpus (2^n_planes buckets;
    at 100 TB raise n_planes so mean bucket size stays O(10^3)).
    Returns (vec_id, bucket_id, n_close, dropped).
    """
    n = _id_vec_norm(df, id_col, vec_col)
    # one SQL string for all planes (the left-fold dot product of
    # _dot against each literal plane); built Column by Column it costs
    # ~125 py4j round trips per plane.  A k/1000 coefficient prints as
    # the shortest decimal that parses back to the same double.
    bits = F.expr(" + ".join(
        "shiftleft(CAST(aggregate(zip_with(vec, array({}), (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x) > 0 AS BIGINT), {})".format(
            ", ".join(f"{c!r}D" for c in _plane_coeffs(p, dim)), p)
        for p in range(n_planes)))
    # three consumers (both pair-join sides + the final readout join)
    # with different column pruning — exchange reuse can't fire, so an
    # unmaterialized b re-scans the embeddings per consumer (7 scans in
    # the final plan).  Eager localCheckpoint = one scan, one bucket
    # pass (the dedup-module multi-consumer discipline).
    b = n.withColumn("bucket_id", bits.cast("bigint")) \
        .localCheckpoint(eager=True)
    a_side = b.select(
        F.col("id").alias("id_a"), F.col("bucket_id"),
        F.col("vec").alias("va"), F.col("norm").alias("na"),
    )
    b_side = b.select(
        F.col("id").alias("id_b"), F.col("bucket_id"),
        F.col("vec").alias("vb"), F.col("norm").alias("nb"),
    )
    sim = F.round(
        cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), _DP
    )
    # close is read three times (the n_close count reads it twice via
    # the union, the drop set once) — without materialization the
    # within-bucket pair join itself runs 3x.  It is small by the
    # threshold filter (near-duplicate pairs, result-sized), so the
    # eager checkpoint costs little and removes two pair joins.
    close = (
        a_side.join(b_side, "bucket_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .localCheckpoint(eager=True)
    )
    counts = (
        close.select(F.col("id_a").alias("id"))
        .unionAll(close.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_close"))
    )
    dropped = close.select(F.col("id_b").alias("id")).distinct() \
        .withColumn("_dropped", F.lit(True))
    return (
        b.join(counts, "id", "left")
        .join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "bucket_id",
            F.coalesce(F.col("n_close"), F.lit(0)).cast("bigint")
            .alias("n_close"),
            F.coalesce(F.col("_dropped"), F.lit(False)).alias("dropped"),
        )
    )


def dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution statistics over an embedding column.

    The profiling step before whitening / normalization / quantizer
    training: one row per vector position with count, mean, population
    std, min, max.  Elements are rounded to 6 dp and summed
    as DECIMAL (exact, order-independent — same parity discipline as
    :func:`label_centroids`), so the stats are bit-stable under any
    partitioning and reproducible in the SQL oracle.  One shuffle on
    the bounded ``pos`` key (|dim| cells of constant size); the map
    side pre-aggregates, so the exchange carries dim-many partial rows
    per task regardless of corpus size.  Returns
    (pos, n, mean_val, std_val, min_val, max_val).
    """
    el = df.select(F.posexplode(_as_double(vec_col)).alias("pos", "val"))
    d6 = F.round("val", _DP).cast("decimal(18,6)")
    agg = el.groupBy(F.col("pos").cast("bigint").alias("pos")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d6).alias("_s"),
        F.sum(d6 * d6).alias("_s2"),
        F.round(F.min("val"), _DP).alias("min_val"),
        F.round(F.max("val"), _DP).alias("max_val"),
    )
    mean = F.col("_s").cast("double") / F.col("n")
    ex2 = F.col("_s2").cast("double") / F.col("n")
    return agg.select(
        "pos",
        "n",
        F.round(mean, _DP).alias("mean_val"),
        # greatest(.., 0): ex2 and mean² round differently in double,
        # so a constant dimension can land at ~-1e-17 and sqrt → NaN
        F.round(
            F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0))), _DP
        ).alias("std_val"),
        "min_val",
        "max_val",
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension affine int8 quantization with reconstruction-error
    audit.

    The embedding-compression step of a retrieval index build: each
    dimension gets an affine code ``round((x - lo) / step)`` with
    ``step = (hi - lo) / 255`` from that dimension's min/max, and each
    vector reports its reconstruction error.  Inputs are rounded to
    6 dp first so both engines quantize the identical
    value; codes/reconstruction stay in double (IEEE-identical given
    identical inputs).  Plan shape: posexplode → per-pos min/max (dim
    rows, broadcast back) → map-only code+error → one aggregate on the
    vector id.  At 100 TB the only wide ops are the dim-keyed range
    aggregate and the id-keyed error aggregate, both with map-side
    combine.  Returns (``id_col``, n_dims, mse, max_abs_err).
    """
    el = df.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(_as_double(vec_col)).alias("pos", "val"),
    ).withColumn("v6", F.round("val", _DP))
    rng = el.groupBy("pos").agg(
        F.min("v6").alias("_lo"), F.max("v6").alias("_hi")
    )
    q = el.join(F.broadcast(rng), "pos")
    step = (F.col("_hi") - F.col("_lo")) / F.lit(255.0)
    code = F.when(F.col("_hi") == F.col("_lo"), F.lit(0.0)).otherwise(
        F.round((F.col("v6") - F.col("_lo")) / step, 0)
    )
    recon = F.col("_lo") + code * F.when(
        F.col("_hi") == F.col("_lo"), F.lit(0.0)
    ).otherwise(step)
    err = F.round(F.col("v6") - recon, _DP)
    q = q.select("_vid", err.alias("_err"))
    e6 = F.col("_err").cast("decimal(18,6)")
    return (
        q.groupBy("_vid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dims"),
            F.round(
                F.sum(e6 * e6).cast("double") / F.count(F.lit(1)), _DP
            ).alias("mse"),
            F.round(F.max(F.abs("_err")), _DP).alias("max_abs_err"),
        )
        .withColumnRenamed("_vid", id_col)
    )


def sign_signatures(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    dim: int = 64) -> DataFrame:
    """Bit-packed binary sign signatures: bit i of word w is set when
    ``vec[32*w + i] > 0``.  The binary-embedding retrieval rung: a
    64-dim float vector collapses to two BIGINT words, so a corpus's
    signature table is ~16 bytes/vector — small enough to sit hot at
    100 TB corpus scale, and Hamming distance is two XOR+popcount
    instructions inside whole-stage codegen (no array math at query
    time).  Rows with NULL vectors are dropped (they have no sign).

    Returns (``id_col``, sig_0..sig_{ceil(dim/32)-1}), each word a
    BIGINT holding 32 sign bits (never bit 63, so ANSI arithmetic
    can't overflow)."""
    df = df.filter(F.col(vec_col).isNotNull())
    # a ragged vector would silently pack missing dims as 0-bits and a
    # NULL element would score as "negative sign" — both silent wrong
    # answers for a data/parameter mistake; fail loudly per row (the
    # lsh_cosine_pairs guard pattern)
    df = df.filter(F.assert_true(
        (F.size(vec_col) == dim)
        & ~F.expr(f"exists({vec_col}, x -> x IS NULL)"),
        F.format_string(
            "sign_signatures: vector length %s != dim=%s or NULL "
            "element — pass the embedding's true dimension",
            F.size(vec_col).cast("string"), F.lit(str(dim)),
        ),
    ).isNull())
    words = []
    for w in range(0, dim, 32):
        hi = min(dim, w + 32)
        words.append(F.expr(
            f"aggregate(sequence({w}, {hi - 1}), 0L, "
            f"(acc, i) -> acc + IF({vec_col}[i] > 0D, "
            f"shiftleft(1L, i - {w}), 0L))"
        ).alias(f"sig_{w // 32}"))
    return df.select(F.col(id_col), *words)


#: most probe vectors :func:`hamming_topk` broadcasts (≈ 10 MB)
HAMMING_MAX_QUERIES = 100_000


def hamming_topk(df: DataFrame, queries: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 k: int = 5, dim: int = 64) -> DataFrame:
    """Exact Hamming top-k over binary sign signatures.

    The scan side is the bit-packed signature table (16 bytes/vector),
    the QUERY side broadcasts — so it must be genuinely small (a batch
    of probe vectors, never a second corpus).  That contract is
    enforced, not assumed: the signature'd query side is counted and a
    ``ValueError`` raised over ``HAMMING_MAX_QUERIES`` (100k probes ≈
    10 MB broadcast) — the same uncapped-broadcast failure class the
    prefix-filter sf10 OOM documented (SCALE.md round-11 rule).  For
    corpus×corpus Hamming pairs, use the SimHash pigeonhole banding in
    operators/dedup.py instead — no broadcast side at all.

    The distance is XOR + bit_count on BIGINT words — the cheapest
    exact rerank primitive there is.  At 100 TB the candidate set
    would first be cut by the SimHash pigeonhole buckets; this
    operator is the exact scorer those candidates flow into, run here
    corpus-wide so the oracle can check every value.  Ties break
    (hamming ASC, neighbor ASC); the query row itself is excluded.

    Returns (query_id, neighbor_id, hamming, rank)."""
    from pyspark.sql import Window

    n_words = (dim + 31) // 32
    corpus = sign_signatures(df, id_col, vec_col, dim)
    qsig = sign_signatures(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"sig_{w}").alias(f"q_{w}") for w in range(n_words)])
    # bounded by construction AFTER this guard — and the guard itself
    # is bounded: limit(max+1) stops the scan at the threshold, so a
    # corpus-sized query set is rejected without ever being signed
    # in full
    n_q = qsig.limit(HAMMING_MAX_QUERIES + 1).count()
    if n_q > HAMMING_MAX_QUERIES:
        raise ValueError(
            f"hamming_topk: query side exceeds HAMMING_MAX_QUERIES="
            f"{HAMMING_MAX_QUERIES}; it is broadcast, so a corpus-sized "
            "query set would OOM the driver — use the SimHash pigeonhole "
            "banding (operators/dedup.py) for corpus-scale pairs"
        )
    ham = None
    for w in range(n_words):
        term = F.bit_count(F.expr(f"q_{w} ^ sig_{w}"))
        ham = term if ham is None else ham + term
    w_rank = Window.partitionBy("query_id").orderBy(
        "hamming", F.col("neighbor_id"))
    return (corpus.withColumnRenamed(id_col, "neighbor_id")
            .crossJoin(F.broadcast(qsig))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    ham.cast("bigint").alias("hamming"))
            .withColumn("rank", F.row_number().over(w_rank)
                        .cast("bigint"))
            .filter(F.col("rank") <= k))
