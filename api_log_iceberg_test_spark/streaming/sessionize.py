"""Custom stateful streaming: gap-based sessionization.

The batch form (lag + cumulative sum) is oracled in
``queries.analytics.q_sessionize``. The streaming form keeps one open
session per key in state and emits a session row when the inactivity gap
exceeds the timeout — implemented with ``applyInPandasWithState`` (Arrow
batches + GroupState), the Spark-native shape for operators Structured
Streaming lacks built-in.

Scale notes: state is O(active keys), not O(events); the state store
shards on the group key across ``spark.sql.shuffle.partitions`` tasks.
State timeouts evict idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def session_schema(key_type: T.DataType) -> T.StructType:
    """Output schema with the ``user_id`` column typed after the input (a
    hardcoded long field previously broke a string key at the Arrow
    boundary — review finding)."""
    return T.StructType(
        [
            T.StructField("user_id", key_type),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Emit closed sessions (user_id, start, end, n_events) from a
    (user_id, ts) event stream.

    Sessions close when no event arrives within ``gap_seconds`` of the last
    one (tracked via processing-time state timeout, mirroring the batch
    30-minute-gap semantics).
    """
    gap_us = gap_seconds * 1_000_000
    out_schema = session_schema(events.schema["user_id"].dataType)

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        times: list[int] = []
        for pdf in batches:
            # dropna: a null timestamp would otherwise become NaT → int64
            # min and fabricate a year-1677 session start
            ts = pd.to_datetime(pdf["ts"]).dropna()
            times.extend((ts.astype("int64") // 1000).tolist())  # ns → us
        if not times:
            return
        times.sort()

        closed: list[tuple[int, int, int]] = []
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = times[0], times[0], 0

        for t in times:
            if n > 0 and t - end_us > gap_us:
                closed.append((start_us, end_us, n))
                start_us, end_us, n = t, t, 0
            # a late cross-batch event EARLIER than the stored start is part
            # of the session (within gap of its end) — move the boundary
            # back like the batch sessionizer would
            start_us = t if n == 0 else min(start_us, t)
            end_us = max(end_us, t)
            n += 1

        state.update((start_us, end_us, n))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
