"""Custom stateful streaming operator: per-user running session state
via ``applyInPandasWithState`` (the Spark primitive for operators the
built-in windows can't express — SURVEY §2.8 declared extension).

The operator keeps, per user, (session_count, last_ts, events_in_current
_session) with a gap-based session boundary — the streaming form of
``x6_sessionize`` but emitting live per-user session stats each
micro-batch, with timeout-based state eviction so state stays bounded
(GroupStateTimeout.ProcessingTimeTimeout evicts idle users).

At 100 TB: state is partitioned by user_id across executors; each
micro-batch shuffles only new events to their user's partition. The
state store is RocksDB-backed in production configs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_count", T.LongType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("current_len", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_count", T.LongType()),
        T.StructField("current_len", T.LongType()),
    ]
)


def _update_user_sessions(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    gap_s: float = 1800.0,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    # Timeout firing = no new data for this user within the timeout
    # window: evict the state and emit nothing. Without this branch the
    # handler would re-arm the timeout and emit a spurious duplicate row
    # per idle user per timeout — state would never shrink.
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        session_count, last_ts, current_len = state.get
    else:
        session_count, last_ts, current_len = 0, None, 0

    for pdf in batches:
        for ts in sorted(float(x) for x in pdf["ts_epoch"]):
            if last_ts is None or ts - last_ts > gap_s:
                session_count += 1
                current_len = 1
            else:
                current_len += 1
            last_ts = ts

    state.update((session_count, last_ts, current_len))
    state.setTimeoutDuration(3_600_000)  # evict users idle > 1h of proc time
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "session_count": [session_count],
            "current_len": [current_len],
        }
    )


def user_session_stats(events: DataFrame, gap_s: float = 1800.0) -> DataFrame:
    """Apply the stateful sessionizer to a stream with columns
    (user_id long, ts_epoch double)."""

    def fn(key, batches, state):
        return _update_user_sessions(key, batches, state, gap_s)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )

