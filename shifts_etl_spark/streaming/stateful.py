"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming surface (SURVEY.md §2.10); these are the
north-star extensions' stateful building blocks, shaped the way Structured
Streaming wants them: state keyed by a partition column, Arrow-batched
per-key updates, event-time timeouts for state expiry.

`streaming_sessionize` is the streaming twin of
operators/windows.session_window: it maintains an open session per user in
state and EMITS a session row when the gap timeout closes it — the same
(user_id, session_id, n_events, sum_value) contract as the batch version.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, n_events long, sum_value double"
)
SESSION_STATE_SCHEMA = "start long, last long, n long, total double"


def _sessionize_one_user(
    key: tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        start, _last, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "session_start": pd.Timestamp(start, unit="us"),
                    "n_events": n,
                    "sum_value": total,
                }
            ]
        )
        return

    rows = pd.concat(list(batches)).sort_values("ts")
    closed: list[dict] = []
    if state.exists:
        start, last, n, total = state.get
    else:
        start, last, n, total = None, None, 0, 0.0

    for ts_us, value in zip(
        rows["ts"].astype("int64") // 1000, rows["value"].astype("float64")
    ):
        ts_us = int(ts_us)
        if start is None:
            start, last, n, total = ts_us, ts_us, 1, float(value)
        elif ts_us - last > gap_seconds * 1_000_000:
            closed.append(
                {
                    "user_id": user_id,
                    "session_start": pd.Timestamp(start, unit="us"),
                    "n_events": n,
                    "sum_value": total,
                }
            )
            start, last, n, total = ts_us, ts_us, 1, float(value)
        else:
            last, n, total = ts_us, n + 1, total + float(value)

    state.update((start, last, n, total))
    state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
    if closed:
        yield pd.DataFrame(closed)


def streaming_sessionize(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """events stream (user_id, ts, value) → closed-session rows. State per
    user; a session closes when the event-time watermark passes its last
    event + gap (timeout), or eagerly when a later in-batch event opens the
    next session."""
    gap_seconds = gap_minutes * 60

    def fn(key, pdf_iter, state):
        return _sessionize_one_user(key, pdf_iter, state, gap_seconds)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_streaming_sessionize(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    gap_minutes: int = 30,
    query_name: str = "sessions",
):
    """Wire streaming_sessionize to a JSON file-drop source and a memory
    sink (availableNow drain) — the testable end-to-end shape."""
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    sessions = streaming_sessionize(events, gap_minutes)
    return (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )

