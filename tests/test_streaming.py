"""Structured Streaming operator tests: the same logical aggregations
as the batch twins, executed through the streaming engine
(Trigger.AvailableNow), plus stateful dedup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_join_library_spark.sources.catalog import load_events
from cassandra_join_library_spark.streaming import windows as W

from .conftest import SF_SMOKE


def _batch_tumbling(spark):
    e = load_events(spark, SF_SMOKE)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
                "event_type", "n_events")
    )


def test_stream_tumbling_equals_batch(spark):
    stream = W.read_events_stream(spark, SF_SMOKE)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
                "event_type", "n_events")
    )
    name, q = W.run_to_memory(agg, output_mode="complete")
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in _batch_tumbling(spark).collect()}
    assert got == want


def test_stream_session_counts_run(spark):
    stream = W.read_events_stream(spark, SF_SMOKE)
    out = W.session_counts(stream)
    name, q = W.run_to_memory(out, output_mode="complete")
    rows = spark.table(name)
    assert rows.count() > 0
    # session totals must cover every event exactly once
    total_events = load_events(spark, SF_SMOKE).count()
    assert rows.agg(F.sum("n_events")).collect()[0][0] == total_events


def test_stream_sliding_double_counts(spark):
    stream = W.read_events_stream(spark, SF_SMOKE)
    out = W.sliding_counts(stream)
    name, q = W.run_to_memory(out, output_mode="complete")
    rows = spark.table(name)
    # each event lands in exactly length/slide = 2 windows
    total_events = load_events(spark, SF_SMOKE).count()
    assert rows.agg(F.sum("n_events")).collect()[0][0] == 2 * total_events


def test_stream_dedup_within_watermark(spark):
    stream = W.read_events_stream(spark, SF_SMOKE)
    deduped = W.dedup_stream(stream, ["user_id", "event_type"])
    name, q = W.run_to_memory(deduped.select("user_id", "event_type"),
                              output_mode="append")
    got = spark.table(name)
    # state eviction means dedup is only guaranteed within the
    # watermark horizon; for this bounded file the horizon spans the
    # whole input, so output must equal the global distinct
    want = load_events(spark, SF_SMOKE).select("user_id", "event_type").distinct()
    assert got.count() == want.count()
    assert got.distinct().count() == want.count()


def test_stateful_running_user_stats(spark):
    """applyInPandasWithState custom operator: final per-user snapshot
    must equal the batch aggregate."""
    from cassandra_join_library_spark.streaming.stateful import running_user_stats

    stream = W.read_events_stream(spark, SF_SMOKE)
    out = running_user_stats(stream)
    name, q = W.run_to_memory(out, output_mode="update")
    # update mode: take the LAST emitted snapshot per user
    snap = spark.table(name)
    latest = (
        snap.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("total_value").alias("total_value"),
             F.max("max_value").alias("max_value"))
    )
    e = load_events(spark, SF_SMOKE)
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("value").alias("max_value"),
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in latest.collect()}
    exp = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in want.collect()}
    assert got == exp


def test_stream_stream_interval_join_equals_batch(spark):
    """Watermarked stream-stream join with a bounded event-time range
    must equal the batch interval join."""
    s1 = W.read_events_stream(spark, SF_SMOKE)
    s2 = W.read_events_stream(spark, SF_SMOKE)
    joined = W.stream_stream_interval_join(s1, s2)
    name, q = W.run_to_memory(
        joined.select("l_event", "r_event"), output_mode="append"
    )
    got = {(r["l_event"], r["r_event"]) for r in spark.table(name).collect()}

    e = load_events(spark, SF_SMOKE)
    l = e.select(F.col("user_id").alias("l_user"), F.col("event_id").alias("l_event"),
                 F.col("ts").alias("l_ts"))
    r = e.select(F.col("user_id").alias("r_user"), F.col("event_id").alias("r_event"),
                 F.col("ts").alias("r_ts"))
    want = {
        (x["l_event"], x["r_event"])
        for x in l.join(
            r,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("l_event") != F.col("r_event"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 minutes")),
        ).collect()
    }
    assert got == want


class _FakeState:
    """Minimal GroupState stand-in for driving the transition function
    directly (no streaming engine)."""

    def __init__(self, value=None, watermark_ms=0):
        self._v = value
        self._wm = watermark_ms
        self.hasTimedOut = False
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms

    def getCurrentWatermarkMs(self):
        return self._wm


def _batch(ts_epochs, values, sentinels=None):
    import pandas as pd

    d = {
        "ts": pd.to_datetime(pd.Series(ts_epochs), unit="s"),
        "value": pd.Series(values, dtype="float64"),
    }
    if sentinels is not None:
        d["sentinel"] = pd.Series(sentinels, dtype="bool")
    return iter([pd.DataFrame(d)])


def test_sessionizer_late_event_before_open_session_forms_own_session():
    """A watermark-permitted event more than gap BEFORE the open
    session must become its own (immediately emitted) session, not
    rewind the open session's start (advisor finding)."""
    from cassandra_join_library_spark.streaming.stateful import _make_sessionizer

    fn = _make_sessionizer(gap_seconds=600)
    t0 = 1_700_000_000
    # open session [t0, t0+300], 2 events, 5.0 total
    state = _FakeState((t0 * 1_000_000, (t0 + 300) * 1_000_000, 2, 5_000_000))
    # late event a full hour BEFORE the session start
    out = list(fn((7,), _batch([t0 - 3600], [1.25]), state))
    assert len(out) == 1, "early event did not emit its own session"
    row = out[0].iloc[0]
    assert row["session_start_epoch"] == t0 - 3600
    assert row["session_last_epoch"] == t0 - 3600
    assert row["n_events"] == 1
    assert row["total_value"] == 1.25
    # open session untouched
    assert state.get == (t0 * 1_000_000, (t0 + 300) * 1_000_000, 2, 5_000_000)


def test_sessionizer_late_event_within_gap_still_extends_backwards():
    """An event within gap of the open session's start legitimately
    extends the session backwards (no spurious split)."""
    from cassandra_join_library_spark.streaming.stateful import _make_sessionizer

    fn = _make_sessionizer(gap_seconds=600)
    t0 = 1_700_000_000
    state = _FakeState((t0 * 1_000_000, (t0 + 300) * 1_000_000, 2, 5_000_000))
    out = list(fn((7,), _batch([t0 - 200], [1.0]), state))
    assert out == []
    start_us, last_us, n, total = state.get
    assert start_us == (t0 - 200) * 1_000_000  # extended backwards
    assert last_us == (t0 + 300) * 1_000_000   # end not rewound
    assert n == 3 and total == 6_000_000


def test_sessionizer_sentinel_flushes_open_session_uncounted():
    from cassandra_join_library_spark.streaming.stateful import _make_sessionizer

    fn = _make_sessionizer(gap_seconds=600, sentinel=True)
    t0 = 1_700_000_000
    state = _FakeState((t0 * 1_000_000, (t0 + 300) * 1_000_000, 2, 5_000_000))
    out = list(fn((7,), _batch([t0 + 86400], [None], [True]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["n_events"] == 2           # sentinel not counted
    assert row["total_value"] == 5.0
    assert row["session_last_epoch"] == t0 + 300
    assert state.removed and not state.exists


def test_sessionizer_bridging_event_merges_early_into_open_session():
    """Advisor finding (r06, medium): an event more than gap before
    the OLD session start must still merge when a bridging in-batch
    event chains them — the batch gaps-and-islands twin re-evaluates
    the gap after every merge, so the sessionizer must too.  A frozen
    pre-batch split point would emit the early event standalone."""
    from cassandra_join_library_spark.streaming.stateful import _make_sessionizer

    fn = _make_sessionizer(gap_seconds=600)
    t0 = 1_700_000_000
    state = _FakeState((t0 * 1_000_000, (t0 + 300) * 1_000_000, 2, 5_000_000))
    # t0-1100 is > gap before the open start, but t0-550 bridges:
    # 550s to each neighbour — one merged session, nothing emitted
    out = list(fn((7,), _batch([t0 - 1100, t0 - 550], [1.0, 2.0]), state))
    assert out == [], "bridged early events were emitted as standalone sessions"
    start_us, last_us, n, total = state.get
    assert start_us == (t0 - 1100) * 1_000_000
    assert last_us == (t0 + 300) * 1_000_000
    assert n == 4 and total == 8_000_000


def test_micro_matches_duckdb_decimal_cast_on_boundaries():
    """Advisor finding (r06, low): ``_micro`` must equal DuckDB's
    CAST(double AS DECIMAL(18,6)) — the conversion the stream-final
    value oracles rely on.  Pin the equivalence on half-boundary
    patterns (x.xxxxxx5), negatives, subnormals, and random doubles so
    a DuckDB rounding change surfaces as THIS failure, not a silent
    oracle mismatch."""
    import random

    import duckdb

    from cassandra_join_library_spark.streaming.stateful import _micro

    cases = [
        0.1, 0.2, 0.3, 1.0000005, 2.0000015, -1.0000005, -2.0000025,
        0.0000005, -0.0000005, 1e-12, -1e-12, 5e-324, -5e-324, 0.0,
        123456789.1234565, -123456789.1234565, 1.5e-7, 2.5e-7,
        0.9999995, -0.9999995, 1234.0000004999999,
    ]
    # doubles whose PRODUCT v*1e6 is an exact .5 tie, straddling the
    # 2^24 tie-rule transition (half-away below, half-even above) —
    # the adversarial class where DuckDB's product-double pipeline
    # diverges from the mathematically exact quantization
    for k in [0, 2, 100, 6_000_000, 16_777_214, 16_777_216, 33_554_432,
              1_000_000_000, 10**12, 123_456_789_123_456]:
        for s in (1.0, -1.0):
            v = s * (k + 0.5) / 1e6
            if abs(v * 1e6) == k + 0.5:
                cases.append(v)
    rng = random.Random(42)
    cases += [rng.uniform(-1e6, 1e6) for _ in range(3000)]
    cases += [rng.uniform(-1e9, 1e9) for _ in range(2000)]
    con = duckdb.connect()
    for v in cases:
        got = _micro(v)
        want = con.execute(
            "SELECT CAST(CAST(CAST(? AS DOUBLE) AS DECIMAL(18,6)) "
            "AS DECIMAL(38,6)) * 1000000",
            [v],
        ).fetchone()[0]
        assert got == int(want), (
            f"_micro({v!r}) = {got} but DuckDB DECIMAL(18,6) cast gives "
            f"{want} — the stream-final value oracles would diverge. "
            f"_micro's tie rule was probed against DuckDB 1.0.0; "
            f"installed duckdb.__version__ = {duckdb.__version__} — if "
            f"that differs, a DuckDB upgrade likely flipped the "
            f"rounding pipeline and _micro must be re-probed"
        )
    con.close()


def test_running_stats_microunit_exactness():
    """0.1 + 0.2 must come out exactly 0.3 (decimal microunits), not
    0.30000000000000004 (float accumulation)."""
    from cassandra_join_library_spark.streaming.stateful import _update_running

    state = _FakeState()
    out = list(_update_running((1,), _batch([0, 60], [0.1, 0.2]), state))
    assert out[0].iloc[0]["total_value"] == 0.3
