"""Wave-23 unit tests: kappa vs a Python contingency replay, hashing-
trick collision bounds, and ID3 syncsafe round-trips."""

from __future__ import annotations

import hashlib

SF = "/root/testdata/sf0.001"


def test_kappa_matches_contingency_replay(spark):
    from cassandra_join_library_spark.queries.text import (
        text_c4_line_filter, text_gopher_rules,
    )
    from cassandra_join_library_spark.queries.stats import (
        stats_cohens_kappa,
    )

    row = stats_cohens_kappa(spark, SF).collect()[0]
    g = {r["doc_id"]: r["passes_gopher"]
         for r in text_gopher_rules(spark, SF).collect()}
    c = {r["doc_id"]: not r["dropped"]
         for r in text_c4_line_filter(spark, SF).collect()}
    a = sum(1 for d in g if g[d] and c[d])
    b = sum(1 for d in g if g[d] and not c[d])
    cc = sum(1 for d in g if not g[d] and c[d])
    dd = sum(1 for d in g if not g[d] and not c[d])
    n = len(g)
    assert (row["both_pass"], row["gopher_only"], row["c4_only"],
            row["both_fail"], row["n_docs"]) == (a, b, cc, dd, n)
    pe_num = (a + b) * (a + cc) + (cc + dd) * (b + dd)
    num = n * (a + dd) - pe_num
    den = n * n - pe_num

    def staged(num, den):
        s = -1 if num < 0 else 1
        num = abs(num)
        q = 1000 * ((1000 * num) // den)
        r = (1000 * num) % den
        q += (1000 * r) // den
        if 2 * ((1000 * r) % den) >= den:
            q += 1
        return s * q

    assert row["kappa_ppm"] == staged(num, den)
    assert -1_000_000 <= row["kappa_ppm"] <= 1_000_000


def test_hashing_trick_collisions_bounded(spark):
    from cassandra_join_library_spark.queries.text import (
        _HASH_BUCKETS, text_hashing_trick_audit,
    )

    rows = text_hashing_trick_audit(spark, SF).collect()
    assert rows
    for r in rows:
        # buckets can never exceed the space or the distinct grams
        assert r["n_distinct_buckets"] <= min(r["n_distinct_grams"],
                                              _HASH_BUCKETS)
        assert r["n_collisions"] == (r["n_distinct_grams"]
                                     - r["n_distinct_buckets"])
        assert r["n_distinct_grams"] <= r["n_grams"]
        assert 0 <= r["collision_ppm"] <= 1_000_000
    # the word-salad corpus has enough bigrams that SOME doc collides
    assert any(r["n_collisions"] > 0 for r in rows)


def test_id3_syncsafe_roundtrip(spark):
    from cassandra_join_library_spark.queries.multimodal import (
        mm_id3_tag_parse,
    )

    rows = {r["doc_id"]: r for r in mm_id3_tag_parse(spark, SF).collect()}
    for i, r in rows.items():
        assert r["is_id3"], i
        tit, art = i % 12 + 1, i % 7 + 1
        alb = i % 3 == 0
        want_size = ((10 + tit + 1) + (10 + art + 1)
                     + ((10 + i % 5 + 2 + 1) if alb else 0)
                     + 120 + i % 300)
        # the tag size crossed a 7-bit boundary (>= 128) by design,
        # so a naive u32 read would decode it wrong
        assert want_size >= 128
        assert r["tag_size"] == want_size, i
        assert r["n_frames"] == (3 if alb else 2), i
        assert r["title_len"] == tit, i
        assert r["has_album"] == alb, i
