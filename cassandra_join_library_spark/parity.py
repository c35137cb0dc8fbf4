"""Order-insensitive exact comparison of query results against oracles.

Shared by the pytest gate (tests/test_oracle_parity.py) and the
parallel gate runner (scripts/run_gate.py) so the two can never drift:
one definition of "equal" — row count, column set, and exact values
(floats compared bit-for-bit after NaN alignment).  Stricter than the
(row count, hash sum) compare of :func:`distributed_compare`, which is
for results too large to collect.
"""

from __future__ import annotations

import math

import pandas as pd

#: the driver's pre-registered table universe — single definition,
#: imported by tests/conftest.py and used by run_parity_gate, so the
#: two harnesses can never see different schemas
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: maximum DECIMAL scale the repo parity conventions allow for
#: round()/DECIMAL canonicalization in ORACLE-GATED queries.  Single
#: definition — operators that expose a ``round_to`` knob
#: (operators.similarity.label_centroids et al) import this as their
#: default and must not exceed it in any registered query: _ULP_FLOOR
#: below is derived from it, so a larger scale would let DuckDB's
#: DECIMAL->DOUBLE double-rounding slip under the floor and fail the
#: bit-exact compare.
MAX_PARITY_DECIMAL_SCALE = 6

#: smallest |double| at which DuckDB's DECIMAL->DOUBLE double-rounding
#: can disagree with Spark's correctly-rounded BigDecimal.doubleValue():
#: the scaled integer exceeds 2^53 at the max parity DECIMAL scale.
#: Below this, floats must be bit-exact.
_ULP_FLOOR = 2.0 ** 53 / 10 ** MAX_PARITY_DECIMAL_SCALE


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for comparison: columns sorted by name, dtypes
    widened to engine-neutral ones, rows sorted by every column."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            pdf[c] = s.astype(str)
        elif pd.api.types.is_bool_dtype(s):
            pdf[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype(float)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def duck_connection(sf_dir: str):
    """A DuckDB connection with one view per :data:`TABLES` entry over
    ``sf_dir`` — the oracle side of every parity check.

    Unbounded DuckDB defaults to ~80% of box RAM PER connection; the
    sf1 graph twins drove one gate worker to 102 GB RSS and the kernel
    OOM-killed the whole gate.  ``SPARK_GRAFT_DUCK_MEM`` is the opt-in
    cap (DuckDB spills to temp instead of dying)."""
    import os

    import duckdb

    con = duckdb.connect()
    mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            # Spark-written table: a directory of part files (the
            # shipped testdata are single files) — lets the gates
            # sweep scaled sets written by scripts/make_scaled_sf.py
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def run_parity_gate(spark, sf_dir: str, names=None, workers: int = 6):
    """Run every (or the named) oracled query's Spark vs DuckDB
    comparison from a thread pool and return ``(timings, failures)``
    dicts — ``failures`` maps query name to a formatted traceback.

    One engine for both gates: ``scripts/run_gate.py`` (pre-commit)
    and ``tests/test_oracle_parity.py`` (CI) call this same function,
    so coverage and "equal" can never drift between them.  Spark
    serves concurrent jobs from multiple driver threads; at sf0.01
    most queries leave most cores idle, so ~6 workers collapse the
    ~6-minute sequential sweep to roughly its longest critical path.
    DuckDB gets one connection per worker thread."""
    import threading
    import time
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    from .registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    if names is None:
        names = sorted(oracles)

    tl = threading.local()

    def duck():
        if not hasattr(tl, "con"):
            tl.con = duck_connection(sf_dir)
        return tl.con

    timings, failures = {}, {}
    lock = threading.Lock()

    def run(name: str) -> None:
        t0 = time.time()
        try:
            spark_pdf = queries[name](spark, sf_dir).toPandas()
            duck_pdf = duck().execute(oracles[name]).df()
            compare(spark_pdf, duck_pdf, name)
            err = None
        except Exception:
            err = traceback.format_exc(limit=4)
        dt = time.time() - t0
        with lock:
            timings[name] = round(dt, 2)
            if err:
                failures[name] = err

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(run, names))
    return timings, failures


# ---------------------------------------------------------------------------
# Distributed compare — for results too large to collect.
#
# The pandas gate above tops out where a single-process toPandas()
# does (the sf1 sweep's four output-explosion queries: theta_lt's
# 745M-row pair space, join_full's 60M rows, the two interval joins).
# This mode never collects: each engine reduces its own result to ONE
# (row_count, hash_sum) pair — md5 of the canonicalized row, first 15
# hex digits as a 60-bit integer, SUMmed (order-insensitive, exact in
# DECIMAL(38,0) up to ~10^20 rows) — and the two scalars are compared.
# Same md5/sum construction as the collect gate's value hash, computed
# engine-side as a distributed aggregate.
#
# Canonicalization must be CROSS-ENGINE REPRODUCIBLE, so only types
# with an identical text form everywhere are allowed by default
# (integers, strings, booleans, dates); doubles need an explicit
# per-column rule ("money2": fixed-point DECIMAL(18,2) text, exact
# for parquet money columns).  Unknown types fail loudly rather than
# hash engine-specific formatting.
# ---------------------------------------------------------------------------

#: per-query canonicalization overrides for distributed_compare:
#: column -> rule (currently only "money2")
DISTRIBUTED_CANON = {
    "theta_lt": {"supplier_s_acctbal": "money2",
                 "customer_c_acctbal": "money2"},
}

_SEP = "\x1f"   # unit separator (chr(31)): not in TPC-H-ish text
_NULL = "\x01"  # NULL sentinel (chr(1)), distinct from empty string


def _spark_hash_agg(df, overrides):
    """Reduce a DataFrame to one (n, hsum) row engine-side."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    parts = []
    for c in sorted(df.columns):
        rule = overrides.get(c)
        dt = dtypes[c]
        if rule == "money2":
            e = F.col(c).cast("decimal(18,2)").cast("string")
        elif rule is not None:
            raise ValueError(f"unknown canon rule {rule!r} for {c!r}")
        elif dt in ("tinyint", "smallint", "int", "bigint", "boolean",
                    "string"):
            e = F.col(c).cast("string")
        elif dt == "date":
            e = F.date_format(F.col(c), "yyyy-MM-dd")
        else:
            raise ValueError(
                f"column {c!r} has type {dt!r} with no cross-engine "
                "canonical text form — add a DISTRIBUTED_CANON rule"
            )
        parts.append(F.coalesce(e, F.lit(_NULL)))
    row = F.concat_ws(_SEP, *parts)
    h = (F.conv(F.substring(F.md5(row), 1, 15), 16, 10)
         .cast("decimal(38,0)"))
    out = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(h).cast("decimal(38,0)").alias("hsum"),
    ).collect()[0]
    return int(out["n"]), (None if out["hsum"] is None else int(out["hsum"]))


def _duck_hash_agg(con, oracle_sql: str, overrides):
    """DuckDB twin of :func:`_spark_hash_agg` over an oracle query."""
    desc = con.execute(
        f"DESCRIBE SELECT * FROM ({oracle_sql}) t"
    ).fetchall()
    parts = []
    for cname, ctype, *_ in sorted(desc, key=lambda r: r[0]):
        rule = overrides.get(cname)
        up = ctype.upper()
        if rule == "money2":
            e = f'CAST(CAST("{cname}" AS DECIMAL(18,2)) AS VARCHAR)'
        elif rule is not None:
            raise ValueError(f"unknown canon rule {rule!r} for {cname!r}")
        elif up in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                    "BOOLEAN", "VARCHAR"):
            e = f'CAST("{cname}" AS VARCHAR)'
        elif up == "DATE":
            e = f"strftime(\"{cname}\", '%Y-%m-%d')"
        else:
            raise ValueError(
                f"oracle column {cname!r} has type {ctype!r} with no "
                "cross-engine canonical text form — add a "
                "DISTRIBUTED_CANON rule"
            )
        parts.append(f"coalesce({e}, chr(1))")
    row = f"concat_ws(chr(31), {', '.join(parts)})"
    # explicit HUGEINT accumulator: the Spark twin casts to
    # DECIMAL(38,0); relying on DuckDB's implicit SUM(BIGINT)->HUGEINT
    # promotion would make the twins' overflow semantics an accident
    n, hsum = con.execute(
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        f"SUM(CAST(('0x' || substr(md5({row}), 1, 15))::BIGINT "
        f"AS HUGEINT)) AS hsum "
        f"FROM ({oracle_sql}) t"
    ).fetchone()
    return int(n), (None if hsum is None else int(hsum))


def distributed_compare(spark, sf_dir: str, name: str, con=None) -> dict:
    """Compare one oracled query at a scale where collecting the
    result is infeasible: both engines aggregate to (row_count,
    hash_sum) and the scalars must match exactly.  Returns the
    measurement dict; raises AssertionError on divergence."""
    import time

    from .registry import all_oracles, all_queries

    if con is None:
        con = duck_connection(sf_dir)

    overrides = DISTRIBUTED_CANON.get(name, {})
    # t0 BEFORE query construction: eager-checkpoint queries do most
    # of their engine work in the builder, and excluding it would
    # under-report spark_s in SCALE rows (the DESCRIBE below is
    # plan-only on the duck side — negligible inside the window)
    t0 = time.time()
    sdf = all_queries()[name](spark, sf_dir)
    # schema check BEFORE hashing: an oracle column-alias mismatch must
    # surface as a named schema error, not an opaque hash-sum divergence
    dcols = sorted(r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM ({all_oracles()[name]}) t"
    ).fetchall())
    assert sorted(sdf.columns) == dcols, (
        f"{name}: columns {sorted(sdf.columns)} (spark) != {dcols} (duckdb)"
    )
    sn, sh = _spark_hash_agg(sdf, overrides)
    t1 = time.time()
    dn, dh = _duck_hash_agg(con, all_oracles()[name], overrides)
    t2 = time.time()
    assert sn == dn, f"{name}: row count {sn} (spark) != {dn} (duckdb)"
    assert sh == dh, f"{name}: value hash-sum {sh} (spark) != {dh} (duckdb)"
    return {"name": name, "rows": sn, "hash_sum": sh,
            "spark_s": round(t1 - t0, 2), "duck_s": round(t2 - t1, 2)}


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    """Assert exact equality; raises AssertionError with a named,
    column-scoped message on the first divergence."""
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            # Bit-exact by default.  A 2-ulp allowance applies ONLY to
            # magnitudes >= _ULP_FLOOR — the one documented divergence
            # (SCALE.md round-12 sf1 sweep): DuckDB's DECIMAL -> DOUBLE
            # cast is double-rounded (int128 -> double, then /10^scale),
            # so once a money sum's scaled integer exceeds 2^53 its
            # last ulp disagrees with Spark's correctly-rounded
            # BigDecimal.doubleValue().  With a max DECIMAL scale of 6
            # under the repo parity conventions, that can only happen
            # when |value| >= 2^53 / 10^6; every smaller float (ratios,
            # means, estimates) stays bit-exact, so the gate's
            # exactness guarantee is weakened only where the cast
            # physically cannot round-trip.  Both real float bugs this
            # gate has caught (1e-6 mean shifts, +2 ppm integer
            # drifts) sit orders of magnitude above 2 ulp anyway.
            ok = [
                (math.isnan(x) and math.isnan(y))
                or x == y
                or (max(abs(x), abs(y)) >= _ULP_FLOOR
                    and abs(x - y) <= 2 * math.ulp(max(abs(x), abs(y))))
                for x, y in zip(a[c].fillna(float("nan")), b[c].fillna(float("nan")))
            ]
            assert all(ok), (
                f"{name}: float column {c!r} differs (bit-exact below "
                f"{_ULP_FLOOR:.4g}, beyond 2 ulp above it)"
            )
        else:
            pd.testing.assert_series_equal(
                a[c], b[c], check_names=False, check_dtype=False,
                obj=f"{name}.{c}",
            )
