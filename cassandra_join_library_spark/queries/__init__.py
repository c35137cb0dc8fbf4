"""Registered query definitions, one module per domain.

- ``joins``: the ``JoinExecutor`` façade (``join_*``, ``theta_*``) and
  the TPC-H-shaped SQL suite (``sql_q*``);
- ``relational``: ``agg_*``, ``scalar_*``, ``window_*``, ``setop_*``,
  pivots, top-k and layout;
- ``stats``: ``stats_*``, ``approx_*``, ``profile_*``, ``privacy_*`` and
  sampling;
- ``events``: ``events_*``, ``asof_*``, ``cdc_*``, ``ivm_*``;
- ``streaming``: ``stream_*``;
- ``dedup``: ``dedup_*``, ``er_*``, ``bloom_*``;
- ``corpus``: ``corpus_*``, ``tokenizer_*``;
- ``text``: ``text_*``;
- ``vectors``: ``ann_*``, ``embedding_*``;
- ``multimodal``: ``mm_*``;
- ``graph``: ``graph_*``.

SQL fragments shared by several domains live in ``_shared``; the
unrolled BPE and k-means oracles in ``_bpe_sql`` and ``_kmeans_sql``.

Each module registers queries into
:mod:`cassandra_join_library_spark.registry`, which imports every
module of this package by discovery; a new module needs no list entry.
``__spark_entry__.py`` re-exports the registry through ``queries()``
and ``oracle_sql()``.
"""
