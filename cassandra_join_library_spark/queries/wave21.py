"""Round-9 eighth wave: URL parsing + canonical-URL dedup, two-round
mode label propagation, and a Johnson-Lindenstrauss projection audit.

All extension surface (SURVEY.md §2.6); exact-value DuckDB oracles
under the repo parity conventions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.stats import staged_ppm
from ..registry import register
from ..sources.catalog import load_table
from .wave4 import _EDGE_CTE, _copurchase_edges


# ---------------------------------------------------------------------------
# URL synthesis (both engines build the identical string from doc_id)
# ---------------------------------------------------------------------------
# variant axes: scheme, www prefix, name pool, tld, port (absent /
# non-default kept / default dropped), path depth, trailing slash,
# query (unsorted params / single / none), fragment.  The axes use
# different moduli so CRT guarantees ids that differ ONLY in axes the
# canonicalizer erases — real duplicate clusters for the dedup query.

_URL_SQL = """
SELECT doc_id,
  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
  || '://'
  || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
  || (CASE doc_id % 7 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
      WHEN 2 THEN 'gamma' WHEN 3 THEN 'delta' WHEN 4 THEN 'epsilon'
      WHEN 5 THEN 'zeta' ELSE 'eta' END)
  || '.' || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
             ELSE 'net' END)
  || (CASE WHEN doc_id % 5 = 0 THEN ':8443'
      WHEN doc_id % 5 = 1 THEN
        (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      ELSE '' END)
  || repeat('/dir', doc_id % 4)
  || (CASE WHEN doc_id % 2 = 0 AND doc_id % 4 > 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1'
      WHEN doc_id % 3 = 1 THEN '?a=1' ELSE '' END)
  || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
FROM documents
"""


def _urls(spark, sf_dir):
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.element_at(
            F.array(*[F.lit(s) for s in
                      ("alpha", "beta", "gamma", "delta", "epsilon",
                       "zeta", "eta")]),
            (did % 7 + 1).cast("int")),
        F.lit("."),
        F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")),
                     (did % 3 + 1).cast("int")),
        F.when(did % 5 == 0, F.lit(":8443"))
        .when(did % 5 == 1,
              F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .otherwise(F.lit("")),
        F.expr("repeat('/dir', doc_id % 4)"),
        F.when((did % 2 == 0) & (did % 4 > 0), F.lit("/"))
        .otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("?b=2&a=1"))
        .when(did % 3 == 1, F.lit("?a=1")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (load_table(spark, sf_dir, "documents")
            .select("doc_id", url.alias("url")))


# regex pieces shared by both engines (RE2- and Java-safe: character
# classes only, no lookaround/backrefs)
_RE_SCHEME = "^([a-z]+)://"
_RE_HOSTPORT = "^[a-z]+://([^/?#]+)"
_RE_HOST = "^([^:]+)"
_RE_PORT = ":([0-9]+)$"
_RE_PATH = "^[a-z]+://[^/?#]+([^?#]*)"
_RE_QUERY = r"\?([^#]*)"


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


@register("dedup_url_canonical", oracle=f"""
WITH u AS ({_URL_SQL}),
p AS (
  SELECT doc_id,
         regexp_extract(url, '{_RE_SCHEME}', 1) AS scheme,
         CASE WHEN lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)) LIKE 'www.%'
              THEN substr(lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)), 5)
              ELSE lower(regexp_extract(regexp_extract(url,
                '{_RE_HOSTPORT}', 1), '{_RE_HOST}', 1)) END AS host_norm,
         regexp_extract(regexp_extract(url, '{_RE_HOSTPORT}', 1),
                        '{_RE_PORT}', 1) AS port_s,
         regexp_extract(url, '{_RE_PATH}', 1) AS path,
         regexp_extract(url, '{_RE_QUERY.replace("'", "''")}', 1) AS q
  FROM u
), c AS (
  SELECT doc_id,
         scheme || '://' || host_norm
         || (CASE WHEN port_s = '' THEN ''
             WHEN scheme = 'https' AND port_s = '443' THEN ''
             WHEN scheme = 'http' AND port_s = '80' THEN ''
             ELSE ':' || port_s END)
         || (CASE WHEN path <> '/' AND path LIKE '%/'
             THEN substr(path, 1, len(path) - 1) ELSE path END)
         || (CASE WHEN q = '' THEN '' ELSE '?' ||
             array_to_string(list_sort(string_split(q, '&')), '&') END)
           AS canon
  FROM p
)
SELECT canon AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS survivor_id
FROM c GROUP BY 1
""")
def dedup_url_canonical(spark, sf_dir):
    """Canonical-URL dedup — web-crawl dedup rung 0, BEFORE any
    content hashing: lowercase host, strip www, drop default ports
    (scheme-aware), strip the trailing path slash, SORT query
    parameters, drop the fragment; group by the canonical form and
    keep the smallest doc_id.  Every rule is a pure string transform
    (fully codegen'd); the grouped count is the only shuffle, keyed
    by canonical URL — at 100 TB this is one map pass + one
    combine-heavy aggregate, no pairwise comparison anywhere (the
    contrast with similarity dedup: canonicalization makes duplicate
    detection EXACT and linear)."""
    u = _urls(spark, sf_dir)
    hostport = F.regexp_extract("url", _RE_HOSTPORT, 1)
    host = F.regexp_extract(hostport, _RE_HOST, 1)
    host_norm = F.when(
        F.lower(host).startswith("www."),
        F.substring(F.lower(host), 5, 2 ** 30)).otherwise(F.lower(host))
    p = u.select(
        "doc_id",
        F.regexp_extract("url", _RE_SCHEME, 1).alias("scheme"),
        host_norm.alias("host_norm"),
        F.regexp_extract(hostport, _RE_PORT, 1).alias("port_s"),
        F.regexp_extract("url", _RE_PATH, 1).alias("path"),
        F.regexp_extract("url", _RE_QUERY, 1).alias("q"),
    )
    canon = F.concat(
        F.col("scheme"), F.lit("://"), F.col("host_norm"),
        F.when(F.col("port_s") == "", F.lit(""))
        .when((F.col("scheme") == "https") & (F.col("port_s") == "443"),
              F.lit(""))
        .when((F.col("scheme") == "http") & (F.col("port_s") == "80"),
              F.lit(""))
        .otherwise(F.concat(F.lit(":"), F.col("port_s"))),
        F.when((F.col("path") != "/") & F.col("path").endswith("/"),
               F.expr("substring(path, 1, length(path) - 1)"))
        .otherwise(F.col("path")),
        F.when(F.col("q") == "", F.lit(""))
        .otherwise(F.concat(
            F.lit("?"),
            F.array_join(F.sort_array(F.split("q", "&")), "&"))),
    )
    return (p.select("doc_id", canon.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_variants"),
                 F.min("doc_id").cast("bigint").alias("survivor_id")))


_LPA_ROUNDS = 2


def _lpa_round_sql(k: int) -> str:
    return (
        f"m{k} AS (\n"
        f"  SELECT ed.u AS n, l.lbl, CAST(COUNT(*) AS BIGINT) AS c\n"
        f"  FROM ed JOIN l{k - 1} l ON l.n = ed.v GROUP BY 1, 2\n"
        f"), l{k} AS (\n"
        f"  SELECT n, lbl FROM (\n"
        f"    SELECT n, lbl,\n"
        f"           row_number() OVER (PARTITION BY n\n"
        f"             ORDER BY c DESC, lbl) AS rk\n"
        f"    FROM m{k}) WHERE rk = 1\n"
        f")"
    )


@register("graph_label_propagation", oracle=f"""
WITH {_EDGE_CTE},
ed AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), l0 AS (
  SELECT DISTINCT u AS n, u AS lbl FROM ed
),
{", ".join(_lpa_round_sql(k) for k in range(1, _LPA_ROUNDS + 1))}
SELECT lbl AS label,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(n) AS BIGINT) AS min_node
FROM l{_LPA_ROUNDS} GROUP BY 1
""")
def graph_label_propagation(spark, sf_dir):
    """{rounds} synchronous rounds of MODE label propagation
    (community detection) on the co-purchase graph, made
    DETERMINISTIC: each node adopts its neighbors' most frequent
    label, ties broken by smallest label — the non-determinism that
    makes textbook LPA irreproducible is exactly what the tie-break
    removes, so the full label histogram is value-graded.  Per round:
    one edge⋈labels join + a (node, label) count + a node-PARTITIONED
    top-1 window, all keyed by node — the same per-round shape as
    BFS/PageRank (edge-linear, no global sort).  At 100 TB: persist
    the oriented edge list once, localCheckpoint the label table per
    round (flat lineage), stop on a converged-fraction threshold
    instead of a fixed round count."""
    e = _copurchase_edges(spark, sf_dir)
    ed = (e.select("u", "v")
          .unionAll(e.select(F.col("v").alias("u"),
                             F.col("u").alias("v"))))
    # columnar persist, NOT localCheckpoint: the checkpoint stores
    # deserialized row blocks and OOM'd the shared heap at sf10, while
    # the compressed InMemoryRelation spills cleanly; lineage depth is
    # a non-issue at 2 rounds
    ed = ed.persist()
    ed.count()
    labels = ed.select(F.col("u").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl"))
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), "lbl")
    for _ in range(_LPA_ROUNDS):
        msgs = (ed.join(labels.select(F.col("n").alias("v"), "lbl"), "v")
                .groupBy(F.col("u").alias("n"), "lbl")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
        # per-round eager checkpoint: node-sized, truncates the
        # iterative lineage, and materializes THROUGH the cached edges
        labels = (msgs.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1).select("n", "lbl")
                  .localCheckpoint(eager=True))
    out = labels.groupBy(F.col("lbl").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("n").cast("bigint").alias("min_node"))
    ed.unpersist()
    return out


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    rounds=_LPA_ROUNDS)


_JL_K = 8


def _jl_sign_sql(r: int) -> str:
    return (f"(CASE WHEN ('0x' || substr(md5('{r}_' || CAST(pos AS "
            f"VARCHAR)), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)")


@register("embedding_jl_projection", oracle=f"""
WITH el AS (
  SELECT vec_id, label, i - 1 AS pos,
         round(CAST(embedding[i] AS DOUBLE), 6) AS v6
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), rng AS (
  SELECT pos, min(v6) AS lo, max(v6) AS hi FROM el GROUP BY 1
), codes AS (
  SELECT vec_id, label, pos,
         CAST(CASE WHEN hi = lo THEN 0
              ELSE round((v6 - lo) / ((hi - lo) / 255.0), 0) END
              AS BIGINT) - 128 AS c
  FROM el JOIN rng USING (pos)
), per_vec AS (
  SELECT vec_id, label,
         CAST(SUM(c * c) AS BIGINT) AS orig_sq,
         {", ".join(f"CAST(SUM({_jl_sign_sql(r)} * c) AS BIGINT) AS p{r}"
                    for r in range(_JL_K))}
  FROM codes GROUP BY 1, 2
), per_label AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM({" + ".join(f"p{r} * p{r}" for r in range(_JL_K))})
              AS BIGINT) AS sum_proj_sq,
         CAST({_JL_K} * SUM(orig_sq) AS BIGINT) AS sum_orig_sq_xk
  FROM per_vec GROUP BY 1
)
SELECT label, n_vecs, sum_proj_sq, sum_orig_sq_xk,
       CAST({staged_ppm("sum_proj_sq", "sum_orig_sq_xk", intdiv="//")}
            AS BIGINT) AS ratio_ppm
FROM per_label
""")
def embedding_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sign-projection audit: project the int8-
    quantized embeddings (the PROVEN cross-engine codes from
    embedding_quantize_int8, centered at -128..127) through a
    deterministic ±1 matrix — sign(r, j) = parity of md5("r_j") — to
    k={k} dimensions, and grade E[|Px|^2] = k·|x|^2 per label as an
    exact integer ratio (ppm, staged ×1000 division for int64
    headroom).  This is the dimensionality-reduction step before a
    100 TB ANN build: one map pass computes all k projections per
    vector (no explode-by-k — the signs are k expressions over one
    posexplode), then two bounded aggregates.  The ratio landing near
    1e6 per label is the JL isometry-in-expectation, measured, not
    assumed."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", "label",
        F.posexplode(F.transform(F.col("embedding"),
                                 lambda x: x.cast("double")))
        .alias("pos", "val"),
    ).withColumn("v6", F.round("val", 6))
    def sign(r: int):
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{r}_"),
                           F.col("pos").cast("string"))), 1, 15),
            16, 10).cast("bigint")
        return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))

    # the ±1 signs depend on (r, pos) ONLY — computing them inside the
    # per-vector aggregate re-ran k md5 hashes per exploded ROW
    # (k·n_vecs·dim hashes); hoisting them onto the per-pos range
    # table computes k·dim hashes once and ships them on the same
    # broadcast the quantization ranges already ride (guide §1.2:
    # per-task work, after the plan shape is right)
    rng = (el.groupBy("pos").agg(F.min("v6").alias("lo"),
                                 F.max("v6").alias("hi"))
           .select("pos", "lo", "hi",
                   *[sign(r).alias(f"_s{r}") for r in range(_JL_K)]))
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        F.round((F.col("v6") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(255.0)), 0))
    codes = (el.join(F.broadcast(rng), "pos")
             .select("vec_id", "label", "pos",
                     (code.cast("bigint") - 128).alias("c"),
                     *[f"_s{r}" for r in range(_JL_K)]))

    per_vec = codes.groupBy("vec_id", "label").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("orig_sq"),
        *[F.sum(F.col(f"_s{r}") * F.col("c")).cast("bigint")
          .alias(f"p{r}") for r in range(_JL_K)])
    proj_sq = sum(F.col(f"p{r}") * F.col(f"p{r}")
                  for r in range(_JL_K))
    per_label = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(proj_sq).cast("bigint").alias("sum_proj_sq"),
        (F.lit(_JL_K) * F.sum("orig_sq")).cast("bigint")
        .alias("sum_orig_sq_xk"))
    return per_label.select(
        "label", "n_vecs", "sum_proj_sq", "sum_orig_sq_xk",
        F.expr(staged_ppm("sum_proj_sq", "sum_orig_sq_xk"))
        .cast("bigint").alias("ratio_ppm"),
    )


embedding_jl_projection.__doc__ = embedding_jl_projection.__doc__.format(
    k=_JL_K)
