"""The workloads: which registered queries, on what inputs, delivered how.

Each workload draws an endless, seeded query sequence: shuffled
cycles in which every query of the workload appears exactly once, so
every run of a given length sees the same mix.  A :class:`Query` is a
registered query: the callable that builds the result through the
library's public API, its DuckDB oracle SQL, and the input tables it
reads.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from cassandra_join_library_spark.registry import all_oracles, all_queries

@dataclass(frozen=True)
class Query:
    name: str
    build: Callable  # (spark, data_dir) -> DataFrame
    oracle: str
    tables: "tuple[str, ...]"


#: registered queries the benchmark runs -> input tables (a self-join
#: reads its table twice)
TABLES = {
    "join_inner": ("customer", "nation"),
    "join_left": ("customer", "orders"),
    "join_right": ("orders", "customer"),
    "join_full": ("supplier", "customer"),
    "join_chain3": ("customer", "nation", "region"),
    "join_composite": ("lineitem", "lineitem"),
    "theta_lt": ("supplier", "customer"),
    "filter_algebra": ("customer",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_jaccard_capped": ("documents",),
    "dedup_tf_cosine": ("documents",),
    "dedup_semantic": ("embeddings",),
    "dedup_prefix_filter_funnel": ("documents",),
    "dedup_lsh_recall_audit": ("documents",),
}


@functools.lru_cache(maxsize=None)
def registered(name: str) -> Query:
    return Query(name, all_queries()[name], all_oracles()[name], TABLES[name])


@dataclass(frozen=True)
class Workload:
    name: str
    queries: "tuple[str, ...]"
    #: "collect" (Arrow to the client) or "json" (JSON-lines files)
    delivery: str
    #: query seconds of one warm cycle on the 4-core reference box; a
    #: run of ``--seconds`` times round(seconds / cycle_s) cycles
    cycle_s: float
    #: star-schema scale factor and corpus sizes of the generated inputs
    sf: float
    n_docs: int = 0
    n_vecs: int = 0

    def sequence(self, rng):
        """Endless seeded stream of shuffled full cycles."""
        while True:
            for i in rng.permutation(len(self.queries)):
                yield registered(self.queries[i])


WORKLOADS = {
    "bulk_joins": Workload(
        "bulk_joins",
        ("join_chain3", "join_composite", "theta_lt", "join_full", "join_left",
         "join_right", "join_inner", "filter_algebra"),
        delivery="json", cycle_s=4.0, sf=0.01),
    "corpus_dedup": Workload(
        "corpus_dedup",
        ("dedup_minhash_lsh", "dedup_jaccard_capped", "dedup_tf_cosine",
         "dedup_semantic"),
        delivery="collect", cycle_s=6.0, sf=0.0001,
        n_docs=500, n_vecs=500),
}

#: queries run once, untimed, in a traced corpus run for the funnel and
#: LSH-quality counters
CORPUS_AUDITS = ("dedup_prefix_filter_funnel", "dedup_lsh_recall_audit")
