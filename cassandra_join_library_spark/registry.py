"""Query registry — the single source for the driver contract.

Every implemented operator registers (a) a Spark callable
``(spark, sf_dir) -> DataFrame`` and (b) optionally an equivalent ANSI
SQL string that DuckDB runs on the same parquet tables.  The parity
gate compares the two (row count + schema + order-insensitive value
hash), so both sides must agree EXACTLY:

Parity conventions (applied on BOTH sides):
- money/double aggregates: sum over ``CAST(x AS DECIMAL(18,6))`` (exact,
  order-independent), final result cast back to DOUBLE;
- computed integers (lengths, years, counts): cast to BIGINT;
- timestamps in output: epoch seconds as BIGINT (``unix_timestamp`` /
  ``epoch(...)``) — sidesteps ms-vs-ns parquet precision;
- every computed column aliased identically in Spark and SQL;
- LIMIT/top-k queries carry a total order (tiebreak on a key column).

Registration order carries no meaning: consumers look queries up by
name (the parity gate iterates ``sorted(all_oracles())``).
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: Dict[str, QueryFn] = {}
_ORACLES: Dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Decorator: register a query, optionally with its DuckDB oracle.

    Queries without an oracle get the weaker rows-only check
    (genuinely non-SQL-expressible ops: LSH candidate generation,
    stateful streaming, stubs)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} — a silent "
                "overwrite would hide a registered query"
            )

        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            # callers may pass their own (bare) session — pin the
            # runtime confs results depend on, for EVERY query,
            # regardless of which loader the query module uses
            from .sources.catalog import ensure_session_confs

            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


def all_queries() -> Dict[str, QueryFn]:
    _load_all()
    return dict(_QUERIES)


def all_oracles() -> Dict[str, str]:
    _load_all()
    return dict(_ORACLES)


# Rows-only adjudication (every query registered WITHOUT a DuckDB
# oracle must either name the oracled query that supersedes it or
# document why no oracle can exist — enforced by
# tests/test_executor.py::test_registry_integrity).  Superseded
# entries stay registered because the committed manifest forbids
# removing names.
ROWS_ONLY = {
    "stream_dedup": {
        "reason": "emission ORDER depends on micro-batch arrival order "
                  "(first-seen wins per key as batches drain), which no "
                  "set-semantics SQL can pin; the final deduped SET is "
                  "oracled by stream_incremental_dedup",
    },
    "stream_stateful_stats": {"superseded_by": "stream_stateful_stats_final"},
    "stream_sessionize_custom": {"superseded_by": "stream_sessionize_final"},
}


_loaded = False


def _load_all() -> None:
    """Import every module of the ``queries`` package exactly once, in
    name order; each registers its queries on import."""
    global _loaded
    if _loaded:
        return
    from . import queries

    for mod in sorted(m.name for m in pkgutil.iter_modules(queries.__path__)):
        importlib.import_module(f"{queries.__name__}.{mod}")
    _loaded = True
