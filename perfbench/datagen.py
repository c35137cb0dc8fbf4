"""Seeded synthetic inputs for the benchmark.

Writes one parquet file per table with the same names, column names
and column types as the library's test fixtures (a TPC-H-like star
schema plus the ``documents``/``embeddings`` corpus tables), so every
registered query and its DuckDB oracle run on them unchanged.  The
same ``(seed, sizes)`` always produces byte-identical values; sizes
are fixed per workload, so seeds change values, never volumes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
COLORS = ["red", "blue", "green", "small", "hot", "cold", "dark", "light"]
NOUNS = ["widget", "bolt", "gear", "ring", "plate", "nut", "screw", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("the a fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark group query row data filter "
         "customer line value agg column vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64

#: rows per table at scale factor 1 (TPC-H ratios; region and nation
#: are fixed-size dimensions)
SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000}

_EPOCH_1995_MS = 788_918_400_000
_DAY_MS = 86_400_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts drawn as whole cents (exact in text form)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _dates(rng, n: int) -> pa.Array:
    ms = _EPOCH_1995_MS + rng.integers(0, 2400, n) * _DAY_MS
    return pa.array(ms, pa.timestamp("ms"))


def star_tables(rng, sf: float) -> "dict[str, pa.Table]":
    rows = {t: max(1, int(round(n * sf))) for t, n in SF1_ROWS.items()}
    nc, ns, npart, no, nl = (rows[t] for t in
                             ("customer", "supplier", "part", "orders", "lineitem"))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl),
    })
    return t


def corpus_tables(rng, n_docs: int, n_vecs: int,
                  dup_frac: float = 0.05) -> "dict[str, pa.Table]":
    """Random-word documents of 10-99 words; ``dup_frac`` of them are a
    near-duplicate of another document (its text plus one word), and
    doc ids are shuffled so duplicates sit anywhere in the id range.
    Embeddings are unit vectors around ten label centroids."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n_docs)]
    n_dup = int(n_docs * dup_frac)
    for i in range(n_docs - n_dup, n_docs):
        texts[i] = texts[int(rng.integers(0, n_docs - n_dup))] + " dup"
    texts = [texts[i] for i in rng.permutation(n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centroids = rng.standard_normal((10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] * 0.5 + rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def generate(directory: str, seed: int, sf: float,
             n_docs: int = 0, n_vecs: int = 0) -> "dict[str, int]":
    """Write every table to ``directory/<table>.parquet`` (one row
    group each, like the fixtures) and return ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, sf)
    if n_docs:
        tables.update(corpus_tables(rng, n_docs, n_vecs))
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
