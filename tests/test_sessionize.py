"""Stateful streaming sessionization vs its batch oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from acxspark.streaming.sessionize import sessionize_batch, sessionize_stream

ROWS = [
    # user 1: two sessions separated by a 2h gap
    (1, "2025-01-01 10:00:00", 1.0),
    (1, "2025-01-01 10:10:00", 2.0),
    (1, "2025-01-01 12:30:00", 3.0),
    # user 2: one session
    (2, "2025-01-01 09:00:00", 5.0),
    (2, "2025-01-01 09:20:00", 7.0),
]


def _mk(spark):
    return spark.createDataFrame(
        ROWS, "user_id long, ts_s string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_batch_sessionize(spark):
    out = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in sessionize_batch(_mk(spark), gap_seconds=1800).collect()
    }
    assert out[(1, "2025-01-01 10:00:00")] == (2, 3.0)
    assert out[(1, "2025-01-01 12:30:00")] == (1, 3.0)
    assert out[(2, "2025-01-01 09:00:00")] == (2, 12.0)


def test_batch_sessionize_tied_timestamps(spark):
    """Duplicate (user_id, ts) rows must land in ONE session with the
    explicit ROWS frame (the default RANGE frame made peers share the
    cumulative gap count and matched only while test data had unique
    timestamps)."""
    rows = [
        (1, "2025-01-01 10:00:00", 1.0),
        (1, "2025-01-01 10:00:00", 2.0),  # exact tie
        (1, "2025-01-01 10:00:00", 3.0),  # exact tie
        (1, "2025-01-01 13:00:00", 4.0),  # new session after gap
        (1, "2025-01-01 13:00:00", 5.0),  # tie in second session
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = sorted(
        (str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    )
    assert out == [
        ("2025-01-01 10:00:00", 3, 6.0),
        ("2025-01-01 13:00:00", 2, 9.0),
    ]


def test_first_wins_null_key_bypass(spark):
    """NULL-key rows survive AND never enter the window shuffle
    (routing fix); tied seq on non-null keys still picks exactly one
    winner per key."""
    from acxspark.operators.dedup_exact import first_wins

    rows = [
        ("k1", 2, "late"), ("k1", 1, "first"),
        (None, 5, "null-a"), (None, 6, "null-b"),
        ("k2", 3, "only"),
    ]
    df = spark.createDataFrame(rows, "k string, seq int, v string")
    out = {(r["k"], r["v"]) for r in first_wins(df, "k", "seq").collect()}
    assert out == {("k1", "first"), ("k2", "only"),
                   (None, "null-a"), (None, "null-b")}


def test_stream_sessionize_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    _mk(spark).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    want = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in sessionize_batch(_mk(spark), gap_seconds=1800).collect()
    }
    # within-batch closed sessions must match the batch oracle exactly;
    # the trailing open session per user may be withheld until timeout
    assert got, "no sessions emitted"
    for k, v in got.items():
        assert want[k] == v
    assert (1, "2025-01-01 10:00:00") in got  # the gap-closed session


class _FakeState:
    """Minimal GroupState double for unit-driving make_sessionizer."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def _drive(fn, state, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([r[0] for r in rows], unit="s"),
         "value": [r[1] for r in rows]}
    )
    out = list(fn((7,), iter([pdf]), state))
    closed = []
    for o in out:
        for r in o.itertuples(index=False):
            closed.append((r.session_start.timestamp(),
                           r.session_end.timestamp(),
                           int(r.n_events), float(r.sum_value)))
    return closed


def test_late_in_gap_event_extends_session_start():
    """An allowed-late event within the gap must pull session_start
    BACK (batch-oracle parity) — the old merge only advanced the
    end."""
    from acxspark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(1800)
    st = _FakeState()
    assert _drive(fn, st, [(10000.0, 1.0)]) == []
    assert st.get[0] == 10000.0
    # batch 2: 1000 s late, inside the gap → merges and start moves
    assert _drive(fn, st, [(9000.0, 2.0)]) == []
    s0, s1, n, sv = st.get
    assert (s0, s1, n, sv) == (9000.0, 10000.0, 2, 3.0)


def test_late_pre_gap_straggler_closes_as_own_session():
    """Events more than gap BEFORE the open session belong to an
    earlier session (the batch twin splits them); the old code merged
    them into the open session."""
    from acxspark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(1800)
    st = _FakeState()
    _drive(fn, st, [(10000.0, 1.0)])
    # two stragglers 3000+ s before the session, chained within gap
    closed = _drive(fn, st, [(6000.0, 1.0), (6500.0, 1.0)])
    assert closed == [(6000.0, 6500.0, 2, 2.0)]
    assert st.get[0] == 10000.0          # open session untouched


def test_straggler_chain_bridged_by_in_gap_event_merges():
    """A straggler chain that a later in-gap event of the same batch
    pulls within the gap of the open session belongs to that session
    (the batch oracle sees 7000, 8300, 10000 as one session): state
    s0=10000, gap=1800, batch [7000, 8300]."""
    from acxspark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(1800)
    st = _FakeState()
    _drive(fn, st, [(10000.0, 1.0)])
    assert _drive(fn, st, [(7000.0, 1.0), (8300.0, 1.0)]) == []
    assert st.get == (7000.0, 10000.0, 3, 3.0)
    st.hasTimedOut = True
    assert _drive(fn, st, []) == [(7000.0, 10000.0, 3, 3.0)]


def test_bridged_straggler_chain_merges_before_session_closes():
    """The same bridge when a later event of the batch closes the
    session: the chain joins the closed session, not its own."""
    from acxspark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(1800)
    st = _FakeState()
    _drive(fn, st, [(10000.0, 1.0)])
    closed = _drive(fn, st, [(7000.0, 1.0), (8300.0, 1.0), (20000.0, 1.0)])
    assert closed == [(7000.0, 10000.0, 3, 3.0)]
    assert st.get == (20000.0, 20000.0, 1, 1.0)
