"""Result checks against the registry's DuckDB oracles.

Collected results (pandas frames) are compared exactly with
``parity.compare``; a result with the same order-insensitive digest as
an already verified result of its query skips the comparison.
Results written as JSON lines are read back by DuckDB and reduced to
``(row count, hash sum)`` with the same construction as
``parity._duck_hash_agg``, and must equal the oracle's pair.  A check
that raises counts as a failed query, like a mismatch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from cassandra_join_library_spark.parity import _duck_hash_agg, compare, normalize


def digest(pdf: pd.DataFrame) -> "tuple[int, int]":
    """(rows, order-insensitive hash) of a collected result."""
    norm = normalize(pdf)
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy().sum()
    return len(norm), int(h)


@dataclass
class Tally:
    """Outcome counts of the timed queries of one run."""

    attempted: int = 0
    exceptions: int = 0
    wrong: int = 0
    notes: "list[str]" = field(default_factory=list)

    def raised(self, name: str, exc: BaseException) -> None:
        self.exceptions += 1
        self.notes.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")

    @property
    def failed(self) -> int:
        return self.exceptions + self.wrong

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


class Oracle:
    """One DuckDB connection over a directory of generated tables."""

    def __init__(self, data_dir: str, tables, temp_dir: str):
        self.con = duckdb.connect()
        os.makedirs(temp_dir, exist_ok=True)
        self.con.execute("SET threads=2")
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._frames: "dict[str, pd.DataFrame]" = {}
        self._hashes: "dict[str, tuple[int, int]]" = {}

    def close(self) -> None:
        self.con.close()

    def frame(self, sql: str) -> pd.DataFrame:
        if sql not in self._frames:
            self._frames[sql] = self.con.execute(sql).df()
        return self._frames[sql]

    def _columns(self, sql: str) -> "list[tuple[str, str]]":
        return [(r[0], r[1]) for r in
                self.con.execute(f"DESCRIBE SELECT * FROM ({sql}) t").fetchall()]

    def _overrides(self, sql: str) -> "dict[str, str]":
        # every double the generator writes is a whole number of cents,
        # so the fixed-point text form is exact
        return {c: "money2" for c, t in self._columns(sql) if t == "DOUBLE"}

    def hash(self, sql: str) -> "tuple[int, int]":
        if sql not in self._hashes:
            self._hashes[sql] = _duck_hash_agg(self.con, sql, self._overrides(sql))
        return self._hashes[sql]

    def json_hash(self, sql: str, path: str) -> "tuple[int, int]":
        """(rows, hash sum) of JSON-lines part files under ``path``,
        typed by the oracle's own columns (absent keys read as NULL,
        which is how the JSON writer encodes nulls)."""
        cols = ", ".join(f"'{c}': '{t}'" for c, t in self._columns(sql))
        files = os.path.join(path, "*.json")
        scan = (f"SELECT * FROM read_json('{files}', "
                f"format='newline_delimited', columns={{{cols}}})")
        return _duck_hash_agg(self.con, scan, self._overrides(sql))


def check_collected(records, oracle: Oracle, tally: Tally) -> None:
    """Check every collected result.  ``records`` items carry ``name``,
    ``oracle`` (SQL) and ``result`` (a pandas DataFrame; ``None`` for a
    query that raised, which the caller has already counted).  A result
    whose digest equals that of an already verified result of the same
    query is correct; any other is compared with the oracle.  A check
    that raises counts as failed too."""
    verified: "dict[str, tuple[int, int]]" = {}
    for rec in records:
        if rec.result is None:
            continue
        try:
            got = digest(rec.result)
            if verified.get(rec.name) == got:
                continue
            compare(rec.result, oracle.frame(rec.oracle), rec.name)
            verified.setdefault(rec.name, got)
        except AssertionError as exc:
            tally.wrong += 1
            tally.notes.append(str(exc))
        except Exception as exc:  # counted, never skipped
            tally.raised(rec.name, exc)


def check_written(name: str, sql: str, path: str, oracle: Oracle,
                  tally: Tally) -> int:
    """Check one JSON-lines result against its oracle; returns rows.
    A result DuckDB cannot read (no part file, a malformed line, a
    value of the wrong type) counts as failed, with 0 rows."""
    try:
        got = oracle.json_hash(sql, path)
        want = oracle.hash(sql)
    except Exception as exc:  # counted, never skipped
        tally.raised(name, exc)
        return 0
    if got != want:
        tally.wrong += 1
        tally.notes.append(f"{name}: (rows, hash) {got} != oracle {want}")
    return got[0]
