"""Round-9 wave unit tests: winnowing guarantee + reference-equality,
fingerprint pair scoring, stratified sampling exactness, ER match
scores, rank correlation vs brute force, streaks, rolling median,
GIF round-trip, and PCM zero crossings."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cassandra_join_library_spark.operators.multimodal import (
    parse_gif_metadata,
    pcm_silence_runs,
    pcm_stats,
    pcm_zero_crossings,
    synthesize_gif,
    synthesize_wav,
    synthesize_wav_pcm,
)
from cassandra_join_library_spark.operators.text import (
    winnowing_fingerprints,
)

K, W = 5, 4


def _winnow_py(text: str, k: int = K, w: int = W):
    """Pure-Python reference: min-of-window with rightmost tie-break
    over mixed polynomial gram hashes (end-position indexed)."""
    n = len(text)
    if n < k + w - 1:
        return set()
    hh = []
    for p in range(k, n + 1):  # 1-based end position
        raw = sum((31 ** j) * ord(text[p - 1 - j]) for j in range(k))
        hh.append((raw * 2654435761) % 1073741824)
    fps = set()
    for t in range(0, len(hh) - w + 1):
        window = hh[t:t + w]
        mh = min(window)
        u = max(i for i in range(w) if window[i] == mh)
        fps.add((t + u + k, mh))  # back to 1-based end position
    return fps


def test_winnowing_matches_python_reference(spark):
    rng = random.Random(42)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaa",  # all-tie windows: rightmost rule
        "ab" * 12,
        "".join(rng.choice("abcdef ") for _ in range(60)),
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string")
    got = {}
    for r in winnowing_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_pos"], r["fp_hash"]))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _winnow_py(t), f"doc {i}"


def test_winnowing_shared_substring_guarantee(spark):
    """Any shared substring of length >= k + w - 1 must surface as a
    shared fingerprint HASH between the two documents."""
    shared = "zqxjkvwpyg"  # length 10 >= 8, rare chars
    a = "aaaa " + shared + " bbbb"
    b = "cccc dddd " + shared + " eeee"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id bigint, text string")
    rows = winnowing_fingerprints(df, "doc_id", "text").collect()
    h1 = {r["fp_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["fp_hash"] for r in rows if r["doc_id"] == 2}
    assert h1 & h2, "guaranteed shared fingerprint missing"


def test_stratified_sample_exact_counts(spark):
    from cassandra_join_library_spark.queries.wave15 import (
        _STRATUM_N, corpus_stratified_sample,
    )

    out = corpus_stratified_sample(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault((r["lang"], r["source"]), []).append(r["rk"])
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    sizes = {(r["lang"], r["source"]): r["n"] for r in
             docs.groupBy("lang", "source").agg(
                 F.count(F.lit(1)).alias("n")).collect()}
    for key, n in sizes.items():
        want = min(_STRATUM_N, n)
        assert sorted(per.get(key, [])) == list(range(1, want + 1)), key
    # deterministic: a second run picks the identical doc set
    again = {(r["lang"], r["source"], r["doc_id"]) for r in
             corpus_stratified_sample(
                 spark, "/root/testdata/sf0.001").collect()}
    assert again == {(r["lang"], r["source"], r["doc_id"]) for r in rows}


def test_er_match_scores_weights(spark):
    from cassandra_join_library_spark.queries.wave15 import er_match_scores

    first8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    mid8 = "m1 m2 m3 m4 m5 m6 m7 m8"
    mk = lambda did, lang, src, tail: (
        did, f"{first8} {mid8} {tail}", lang, src,
        len(f"{first8} {mid8} {tail}"))
    docs = spark.createDataFrame(
        [mk(1, "en", "s1", "x"), mk(2, "en", "s1", "y"),
         (3, first8 + " n1 n2 n3 n4 n5 n6 n7 n8 "
          + "pad " * 40, "fr", "s2", len(first8) + 200)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    import cassandra_join_library_spark.queries.wave15 as w15

    orig = w15.load_table
    try:
        w15.load_table = lambda spark, sf_dir, name: docs
        rows = er_match_scores(spark, "unused").collect()
    finally:
        w15.load_table = orig
    scores = {(r["doc_a"], r["doc_b"]): r["match_score"] for r in rows}
    # (1,2): lang+4, source+2, len+3, mid8+5 = 14
    assert scores.get((1, 2)) == 14
    # (1,3)/(2,3): -3 -1 -2 +0 = -6 -> filtered below threshold
    assert (1, 3) not in scores and (2, 3) not in scores


def _rank_avg(vals):
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    r = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and \
                vals[order[j + 1]] == vals[order[i]]:
            j += 1
        avg = (i + j) / 2 + 1
        for t in range(i, j + 1):
            r[order[t]] = avg
        i = j + 1
    return r


def test_rank_corr_matches_bruteforce(spark):
    import math

    from cassandra_join_library_spark.queries.wave16 import stats_rank_corr

    rng = random.Random(7)
    # quantity-like / discount-like integer domains with ties
    xs = [rng.randrange(1, 8) * 100 for _ in range(200)]
    ys = [(x // 100 + rng.randrange(-2, 3)) % 7 * 100 for x in xs]
    li = spark.createDataFrame(
        [(x / 100.0, y / 1000000.0) for x, y in zip(xs, ys)],
        "l_quantity double, l_discount double")
    import cassandra_join_library_spark.queries.wave16 as w16

    orig = w16.load_table
    try:
        w16.load_table = lambda spark, sf_dir, name: li
        row = stats_rank_corr(spark, "unused").collect()[0]
    finally:
        w16.load_table = orig
    rx, ry = _rank_avg(xs), _rank_avg(ys)
    mx = sum(rx) / len(rx)
    my = sum(ry) / len(ry)
    sxy = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    sxx = sum((a - mx) ** 2 for a in rx)
    syy = sum((b - my) ** 2 for b in ry)
    want_rho = sxy / math.sqrt(sxx * syy)
    assert abs(row["rho_spearman"] - want_rho) < 1e-9
    # Kendall tau-b brute force
    n = len(xs)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (xs[i] - xs[j]) * (ys[i] - ys[j])
            if s > 0:
                c += 1
            elif s < 0:
                d += 1
    from collections import Counter

    tx = sum(v * (v - 1) / 2 for v in Counter(xs).values())
    ty = sum(v * (v - 1) / 2 for v in Counter(ys).values())
    n0 = n * (n - 1) / 2
    want_tau = (c - d) / math.sqrt((n0 - tx) * (n0 - ty))
    assert abs(row["tau_b"] - want_tau) < 1e-9
    assert row["n"] == n


def test_user_streaks_islands(spark):
    import datetime as dt

    from cassandra_join_library_spark.queries.wave16 import (
        events_user_streaks,
    )

    def ev(i, u, day):
        return (i, dt.datetime(2024, 1, day, 12, 0), u, "view", 1.0, "{}")

    events = spark.createDataFrame(
        # user 1: days 1,2,3, 5,6, 9  -> longest 3, 6 days? no: 3+2+1
        [ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3), ev(4, 1, 5),
         ev(5, 1, 6), ev(6, 1, 9), ev(7, 1, 9),  # dup same day
         ev(8, 2, 4)],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string")
    import cassandra_join_library_spark.queries.wave16 as w16
    from cassandra_join_library_spark.sources import catalog

    orig = catalog.load_events
    try:
        w16.load_events = lambda spark, sf_dir: events
        rows = {r["user_id"]: r for r in
                events_user_streaks(spark, "unused").collect()}
    finally:
        w16.load_events = orig
    assert rows[1]["longest_streak"] == 3
    assert rows[1]["n_active_days"] == 6
    assert rows[1]["n_streaks"] == 3
    assert rows[2]["longest_streak"] == 1
    assert rows[2]["n_streaks"] == 1


def test_gif_roundtrip_and_corrupt(spark):
    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 7, 12, 801)], "doc_id bigint")
    built = synthesize_gif(ids, "doc_id")
    parsed = {r["doc_id"]: r for r in
              parse_gif_metadata(built, "doc_id").collect()}
    src = {r["doc_id"]: r for r in built.collect()}
    for i, meta in parsed.items():
        assert meta["is_gif"]
        assert meta["gif_width"] == src[i]["width"]
        assert meta["gif_height"] == src[i]["height"]
        assert meta["has_gct"] == src[i]["gct_flag"]
        assert meta["gct_colors"] == 2 ** (src[i]["gct_exp"] + 1)
        assert meta["gif_version"] == ("89a" if i % 2 == 0 else "87a")
    corrupt = spark.createDataFrame(
        [(99,)], "doc_id bigint").select(
            "doc_id", F.unhex(F.lit("deadbeef")).alias("payload"))
    bad = parse_gif_metadata(corrupt, "doc_id").collect()[0]
    assert not bad["is_gif"] and bad["gif_width"] is None


def test_pcm_zero_crossings_reference(spark):
    ids = spark.createDataFrame([(3,), (10,)], "doc_id bigint")
    built = synthesize_wav_pcm(ids, "doc_id", n_samples=64)
    got = {r["doc_id"]: r for r in
           pcm_zero_crossings(built, "doc_id").collect()}
    for did in (3, 10):
        sm = [((did * 31 + i * 17) % 65536) - 32768 for i in range(64)]
        zc = sum(1 for i in range(63) if sm[i] * sm[i + 1] < 0)
        zeros = sum(1 for v in sm if v == 0)
        r = got[did]
        assert r["n_samples"] == 64
        assert r["zero_crossings"] == zc
        assert r["n_zero_samples"] == zeros
        num, den = 1000000 * zc, 63
        assert r["zcr_ppm"] == num // den + (
            1 if 2 * (num % den) >= den else 0)


def test_pcm_decoders_on_clips_under_two_samples(spark):
    """Header-only WAVs (0 samples) and 1-sample clips decode to an
    empty / one-element sample array: no crossings and a NULL rate,
    where a descending ``sequence`` used to fail the job."""
    ids = spark.createDataFrame([(3,), (10,)], "doc_id bigint")
    one = [((did * 31) % 65536) - 32768 for did in (3, 10)]
    for built, n in ((synthesize_wav(ids, "doc_id"), 0),
                     (synthesize_wav_pcm(ids, "doc_id", n_samples=0), 0),
                     (synthesize_wav_pcm(ids, "doc_id", n_samples=1), 1)):
        zc = sorted(tuple(r) for r in pcm_zero_crossings(built, "doc_id").collect())
        assert zc == [(3, n, 0, 0, None), (10, n, 0, 0, None)]
        st = sorted(tuple(r) for r in pcm_stats(built, "doc_id").collect())
        assert st == [(d, n, v, v * v, abs(v)) if n else (d, 0, 0, 0, 0)
                      for d, v in zip((3, 10), one)]
        sil = sorted(tuple(r) for r in pcm_silence_runs(built, "doc_id").collect())
        assert sil == [(3, n, 0, 0, 0), (10, n, 0, 0, 0)]


def test_rolling_median_odd_frames(spark):
    import datetime as dt

    from cassandra_join_library_spark.queries.wave16 import (
        events_rolling_median_daily,
    )

    rng = random.Random(5)
    rowsrc = []
    vals = []
    for day in range(1, 15):
        v = float(rng.randrange(1, 500))
        vals.append(v)
        rowsrc.append((day, dt.datetime(2024, 1, day, 1), 1,
                       "purchase", v, "{}"))
        rowsrc.append((100 + day, dt.datetime(2024, 1, day, 2), 2,
                       "view", 999.0, "{}"))  # non-purchase noise
    events = spark.createDataFrame(
        rowsrc, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string")
    import cassandra_join_library_spark.queries.wave16 as w16

    orig = w16.load_events
    try:
        w16.load_events = lambda spark, sf_dir: events
        got = sorted(events_rolling_median_daily(
            spark, "unused").collect(), key=lambda r: r["day_epoch"])
    finally:
        w16.load_events = orig
    assert len(got) == 14 - 6
    for i, r in enumerate(got):
        frame = sorted(vals[i:i + 7])
        assert r["med7"] == frame[3], i
