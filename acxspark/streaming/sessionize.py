"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState``.

The graft brief's custom-stateful-operator surface: gap-based sessions
(a session closes after ``gap`` seconds of user inactivity) cannot be
expressed with built-in windowed aggs — session bounds depend on the
data — so state rides GroupState per user_id:

- state = (session_start_epoch, last_event_epoch, n_events, sum_value)
- each micro-batch appends the user's new events; if the gap is
  exceeded the closed session is emitted and state restarts;
- state times out (``GroupStateTimeout.EventTimeTimeout``) once the
  watermark passes last_event + gap, flushing the final session —
  bounded state, late data beyond the watermark dropped upstream.

Allowed-late events (inside the watermark, behind the open session):
in-gap ones merge and pull ``session_start`` back, matching the batch
twin; events more than ``gap`` before the open session sessionize as
their own chain, which merges into the session if a later in-gap
event of the same batch pulls its start within ``gap`` of the chain,
and otherwise closes at batch end. The one online approximation vs
:func:`sessionize_batch`: straggler chains split across SEPARATE
micro-batches close separately (append-mode output cannot retract).

Scale notes: state is shuffled by user_id (uniform key), constant per
user; the Arrow batch carries only that user's delta.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.DoubleType()),
        T.StructField("last_s", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("sv", T.DoubleType()),
    ]
)


def make_sessionizer(gap_seconds: float):
    def sessionize(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[float, float, int, float]] = []

        if state.hasTimedOut:
            if state.exists:
                s0, s1, n, sv = state.get
                closed.append((s0, s1, int(n), float(sv)))
                state.remove()
        else:
            events: list[tuple[float, float]] = []
            for pdf in pdfs:
                ts = pdf["ts"].astype("datetime64[ns]").astype("int64") / 1e9
                events.extend(zip(ts.tolist(), pdf["value"].tolist()))
            events.sort()
            if state.exists:
                s0, s1, n, sv = state.get
            else:
                s0, s1, n, sv = None, None, 0, 0.0
            # straggler chain: allowed-late events (inside the
            # watermark) that predate the OPEN session by more than
            # the gap belong to an EARLIER session — merging them (the
            # old behavior) produced sessions the batch oracle splits,
            # and even in-gap late events never pulled session_start
            # back. Stragglers sessionize among themselves: events are
            # sorted, so every straggler precedes every in-gap event,
            # and only the LAST chain can still bridge — when an
            # in-gap event pulls s0 back within the gap of its end, the
            # chain merges into the session (batch-oracle parity);
            # otherwise it closes at batch end. Residual online
            # approximation, documented: a straggler chain cannot
            # merge with stragglers arriving in LATER micro-batches.
            st = None  # (st0, st1, stn, stv)
            for t, v in events:
                if s0 is None:
                    s0, s1, n, sv = t, t, 1, float(v)
                elif t < s0 - gap_seconds:
                    if st is not None and t - st[1] <= gap_seconds:
                        st = (st[0], max(st[1], t), st[2] + 1,
                              st[3] + float(v))
                    else:
                        if st is not None:
                            closed.append(st)
                        st = (t, t, 1, float(v))
                elif t - s1 > gap_seconds:
                    closed.append((s0, s1, n, sv))
                    s0, s1, n, sv = t, t, 1, float(v)
                else:
                    # in-gap late events must also extend the session
                    # START (batch-oracle parity), not only the end
                    s0 = min(s0, t)
                    s1 = max(s1, t)
                    n += 1
                    sv += float(v)
                    if st is not None and s0 - st[1] <= gap_seconds:
                        s0, n, sv = st[0], n + st[2], sv + st[3]
                        st = None
            if st is not None:
                closed.append(st)
            if s0 is not None:
                state.update((float(s0), float(s1), int(n), float(sv)))
                # flush once the watermark passes the session gap
                state.setTimeoutTimestamp(int((s1 + gap_seconds) * 1000))

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="s") for s, _, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="s") for _, e, _, _ in closed],
                    "n_events": [n for _, _, n, _ in closed],
                    "sum_value": [round(sv, 2) for _, _, _, sv in closed],
                }
            )

    return sessionize


def sessionize_stream(events: DataFrame, gap_seconds: float = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """events(ts, user_id, value) stream → closed-session rows."""
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        e.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_seconds: float = 1800) -> DataFrame:
    """Batch twin (lag + cumulative-sum session ids) — the correctness
    oracle for the streaming operator, and the backfill path."""
    from pyspark.sql import Window

    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_flag = (
        F.when(
            F.col("ts").cast("double")
            - F.lag(F.col("ts").cast("double")).over(w)
            > gap_seconds,
            1,
        )
        .otherwise(0)
    )
    # explicit ROWS frame: the default RANGE frame makes tied
    # (user_id, ts) rows share the cumulative value, diverging from
    # the DuckDB oracle's ROWS UNBOUNDED PRECEDING on duplicate
    # timestamps (latent — test timestamps were unique)
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("session_no", F.sum(gap_flag).over(w_rows))
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .drop("session_no")
    )
