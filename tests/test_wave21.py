"""Wave-21 unit tests: URL parse/canonicalization rules, label
propagation invariants, and the JL projection audited against numpy."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_url_parse_variant_axes(spark):
    from cassandra_join_library_spark.queries.text import text_url_parse

    rows = {r["doc_id"]: r for r in text_url_parse(spark, SF).collect()}
    names = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    tlds = ("com", "org", "net")
    for i, r in rows.items():
        assert r["scheme"] == ("https" if i % 2 == 0 else "http"), i
        dom = f"{names[i % 7]}.{tlds[i % 3]}"
        # host_norm never keeps the www prefix
        assert r["host_norm"] == dom, i
        assert r["registered_domain"] == dom, i
        if i % 5 == 0:
            assert r["port"] == 8443, i
        elif i % 5 == 1:
            assert r["port"] == (443 if i % 2 == 0 else 80), i
        else:
            assert r["port"] is None, i
        want_slashes = i % 4 + (1 if (i % 2 == 0 and i % 4 > 0) else 0)
        assert r["n_path_slashes"] == want_slashes, i
        assert r["has_query"] == (i % 3 in (0, 1)), i
        assert r["has_fragment"] == (i % 4 == 0), i


def test_url_canonical_collapses_equivalent_forms(spark):
    from cassandra_join_library_spark.queries.dedup import (
        dedup_url_canonical,
    )

    rows = dedup_url_canonical(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_variants"] for r in rows) == docs.count()
    # canonical forms carry none of the erased variation
    for r in rows:
        c = r["canonical_url"]
        assert "#" not in c and "www." not in c, c
        assert ":443" not in c and ":80" not in c, c
        # sorted query params: never the unsorted 'b=2&a=1' order
        assert "b=2&a=1" not in c, c
        assert not (c.rstrip("?").endswith("/")
                    and not c.endswith("//")), c
    # the axes guarantee real duplicate clusters
    assert any(r["n_variants"] >= 2 for r in rows)
    # survivors are the cluster minimum by construction
    assert all(r["survivor_id"] >= 0 for r in rows)


def test_label_propagation_invariants(spark):
    from cassandra_join_library_spark.queries.graph import (
        graph_label_propagation,
    )
    from cassandra_join_library_spark.queries.graph import (
        _copurchase_edges,
    )

    rows = graph_label_propagation(spark, SF).collect()
    e = _copurchase_edges(spark, SF)
    nodes = {r[0] for r in
             e.select("u").union(e.select("v")).distinct().collect()}
    assert sum(r["n_nodes"] for r in rows) == len(nodes)
    # labels are node ids (initialization = own id, min tie-break)
    for r in rows:
        assert r["label"] in nodes
        assert r["min_node"] in nodes
    # propagation coarsens: strictly fewer labels than nodes on a
    # graph with any edges at all
    assert len(rows) < len(nodes)


def _jl_sign(r: int, pos: int) -> int:
    h = int(hashlib.md5(f"{r}_{pos}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def test_jl_projection_matches_numpy(spark):
    from cassandra_join_library_spark.queries.vectors import (
        _JL_K, embedding_jl_projection,
    )

    got = {r["label"]: r for r in
           embedding_jl_projection(spark, SF).collect()}
    pdf = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    mat = np.round(np.vstack(pdf["embedding"].to_numpy()).astype(
        np.float64), 6)
    lo, hi = mat.min(axis=0), mat.max(axis=0)
    step = np.where(hi == lo, 1.0, (hi - lo) / 255.0)
    # Spark/DuckDB round() on doubles is HALF-UP (away from zero),
    # NOT numpy's half-even — replay it as floor(x + 0.5) (codes are
    # non-negative, so away-from-zero == up)
    codes = np.where(hi == lo, 0.0,
                     np.floor((mat - lo) / step + 0.5)) \
        .astype(np.int64) - 128
    d = mat.shape[1]
    signs = np.array([[_jl_sign(r, j) for j in range(d)]
                      for r in range(_JL_K)], dtype=np.int64)
    proj = codes @ signs.T                       # (n, k)
    labels = pdf["label"].to_numpy()
    for lab in np.unique(labels):
        m = labels == lab
        want_proj = int((proj[m] ** 2).sum())
        want_orig = int(_JL_K * (codes[m] ** 2).sum())
        assert got[int(lab)]["sum_proj_sq"] == want_proj, lab
        assert got[int(lab)]["sum_orig_sq_xk"] == want_orig, lab
        # JL isometry in expectation: the measured ratio is near 1e6
        assert 200_000 <= got[int(lab)]["ratio_ppm"] <= 5_000_000, lab
