"""Spans around calls into the library's public functions.

:class:`Tracer` wraps the public entry points of the ``sources`` and
``plans`` layers for the length of a traced window and restores them
afterwards; nothing in the library is edited.  Spans stay in memory
and are written out once, when the run ends.  Module-level names that
query modules imported by value (``from ..sources.catalog import
load_table``) are rebound in every loaded library module, so calls
through those names are traced too.
"""

from __future__ import annotations

import itertools
import json
import re
import sys
import time
from contextlib import contextmanager

from cassandra_join_library_spark.plans.executor import JoinExecutor
from cassandra_join_library_spark.sources import catalog, sinks

#: (span name, owner, attribute): the layer entry points traced
TARGETS = [
    ("sources.load", catalog, "load_table"),
    ("sources.load", catalog, "read_parquet_cached"),
    ("sources.load", catalog.ParquetCatalog, "load"),
    ("sources.sink", sinks, "write_json_lines"),
    ("sources.sink", JoinExecutor, "save_result"),
    ("plans.build", JoinExecutor, "execute"),
]

_PACKAGE = "cassandra_join_library_spark"


class Tracer:
    def __init__(self):
        self.spans: "list[dict]" = []
        self._ids = itertools.count(1)
        self._stack: "list[int]" = []
        self._qid: "str | None" = None
        self._undo: "list[tuple[object, str, object]]" = []

    # -- spans ---------------------------------------------------------
    def set_query(self, qid: "str | None") -> None:
        self._qid = qid

    @contextmanager
    def span(self, name: str):
        stack = self._stack
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, "qid": self._qid})

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- instrumentation -------------------------------------------------
    def install(self) -> None:
        for name, owner, attr in TARGETS:
            orig = owner.__dict__[attr]
            traced = self._wrap(name, orig)
            self._rebind(owner, attr, traced)
            if isinstance(owner, type):
                continue
            for mod_name, mod in list(sys.modules.items()):
                if (mod_name.startswith(_PACKAGE) and mod is not owner
                        and getattr(mod, attr, None) is orig):
                    self._rebind(mod, attr, traced)

    def _rebind(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------
    def outermost(self, prefix: str) -> "list[dict]":
        """Spans named ``prefix*`` not nested in another such span."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"].startswith(prefix):
                    return True
                p = by_id.get(p["parent"])
            return False

        return [s for s in self.spans
                if s["name"].startswith(prefix) and not nested(s)]

    def total_s(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.outermost(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _pushed_filters(plan: str) -> int:
    """Top-level entries of every ``PushedFilters: [...]`` list."""
    n = 0
    for m in re.finditer(r"PushedFilters: \[", plan):
        depth, items, empty = 1, 1, True
        for ch in plan[m.end():]:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                items += 1
            if not ch.isspace():
                empty = False
        n += 0 if empty else items
    return n


def plan_counts(plan: str) -> "dict[str, int]":
    """Operator counts from a physical plan's text form."""
    return {
        "pushed_filters": _pushed_filters(plan),
        "exchanges": len(re.findall(r"(?<![A-Za-z])Exchange ", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
    }


def executed_plan(df) -> str:
    """Force Catalyst to produce the physical plan and return its text."""
    return df._jdf.queryExecution().executedPlan().toString()
