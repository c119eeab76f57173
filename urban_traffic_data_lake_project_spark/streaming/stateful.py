"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.9 net-new surface; the brief's "custom stateful operators"
slot).

``running_user_stats`` maintains per-user state across micro-batches:
cumulative event count, cumulative value sum, and last-seen timestamp.
Unlike windowed aggregation this state never expires on its own — the
operator demonstrates arbitrary user-managed state (the GroupState API),
which is what session-izers, CDC mergers, and online feature stores
build on. State is one tiny tuple per key: memory is O(active users).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        if len(pdf):
            batch_max = pdf["ts"].max()
            last_us = max(last_us, int(batch_max.value // 1_000))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [total],
            "last_ts": [pd.Timestamp(last_us * 1_000)],
        }
    )


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum, last-seen) maintained in group state;
    emits the updated row for each user touched by each micro-batch."""
    return (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Bounded replay buffer, kept in GroupState (the v1 state API): the
# state-v2 API (transformWithStateInPandas + ListState) needs
# google.protobuf for its state-server protocol, which the project does
# not depend on.
# ---------------------------------------------------------------------------
RECENT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_recent", LongType()),
        StructField("avg_recent_value", DoubleType()),
        StructField("last_ts", TimestampType()),
        StructField("span_us", LongType()),
    ]
)

# the buffer rides in the state tuple as three parallel arrays
RECENT_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", ArrayType(LongType())),
        StructField("event_id", ArrayType(LongType())),
        StructField("value", ArrayType(DoubleType())),
    ]
)


def _make_recent_update(keep: int):
    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ts_us, eids, vals = state.get
            buf = list(zip(ts_us, eids, vals))
        else:
            buf = []
        for pdf in pdfs:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                buf.append(
                    (int(pd.Timestamp(ts).value // 1_000), int(eid), float(val))
                )
        # recency = (ts, event_id) DESC; event_id breaks exact-ts ties so
        # replays are deterministic
        buf.sort(key=lambda t: (-t[0], -t[1]))
        buf = buf[:keep]
        state.update(([t[0] for t in buf], [t[1] for t in buf], [t[2] for t in buf]))
        vals = [t[2] for t in buf]
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_recent": [len(buf)],
                "avg_recent_value": [sum(vals) / len(vals) if vals else None],
                "last_ts": [pd.Timestamp(buf[0][0] * 1_000) if buf else None],
                "span_us": [buf[0][0] - buf[-1][0] if buf else None],
            }
        )

    return update


def bounded_recent_stats(stream: DataFrame, keep: int = 5) -> DataFrame:
    """Per-user stats over the ``keep`` most recent events — a bounded
    replay buffer maintained in group state across micro-batches. State
    is O(keys x keep); old events fall out by construction, no watermark
    needed."""
    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_recent_update(keep),
            outputStructType=RECENT_OUTPUT_SCHEMA,
            stateStructType=RECENT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
