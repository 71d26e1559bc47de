"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (the escape hatch for operators Structured
Streaming's built-ins can't express — SURVEY.md §2.9 extension).

Semantics match the batch twin (plans/streaming.q_sessionize, the
oracle-checked form): events per user are split into sessions at >30-min
inactivity gaps. State per user = (current session index, last event time,
open-session aggregates); a processing-time timeout flushes sessions that
went quiet.

Scale notes: state is partitioned by user_id across the state store (one
shuffle); per-group state is O(1) (no event buffering — aggregates update
incrementally); the timeout bounds state lifetime the way a watermark
bounds the built-in dedup.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 1800

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_idx", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("closed", T.BooleanType(), False),
    ]
)

# state: session_idx, n_events, start_us, end_us
STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_idx", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("start_us", T.LongType(), True),
        T.StructField("end_us", T.LongType(), True),
    ]
)


def _sessionize_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key

    if state.hasTimedOut:
        idx, n, start_us, end_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_idx": [idx],
                "n_events": [n],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(end_us, unit="us")],
                "closed": [True],
            }
        )
        return

    idx, n, start_us, end_us = state.get if state.exists else (0, 0, None, None)
    out_rows: list[tuple] = []

    ts_us = (
        pd.concat([b["ts"] for b in batches])
        .sort_values()
        .astype("int64")
        // 1000  # pandas ns → µs
    )
    for t in ts_us:
        if end_us is not None and t - end_us > SESSION_GAP_SECONDS * 1_000_000:
            out_rows.append((user_id, idx, n, start_us, end_us, True))
            idx, n, start_us = idx + 1, 0, None
        if start_us is None:
            start_us = t
        n += 1
        # events are sorted within a batch, but a LATER batch can deliver
        # an event older than the open session's end — never move the
        # session bounds backwards
        start_us = min(start_us, t)
        end_us = t if end_us is None else max(end_us, t)

    state.update((idx, n, start_us, end_us))
    try:
        state.setTimeoutDuration(SESSION_GAP_SECONDS * 1000)
    except Exception:
        pass  # NoTimeout configuration (bounded availableNow runs)

    # emit the open session's running snapshot (closed=False) plus any
    # sessions closed within this batch
    out_rows.append((user_id, idx, n, start_us, end_us, False))
    yield pd.DataFrame(
        out_rows,
        columns=[
            "user_id",
            "session_idx",
            "n_events",
            "session_start",
            "session_end",
            "closed",
        ],
    ).assign(
        session_start=lambda d: pd.to_datetime(d["session_start"], unit="us"),
        session_end=lambda d: pd.to_datetime(d["session_end"], unit="us"),
    )


def sessionize_stream(
    events: DataFrame, timeout_conf: str | None = None
) -> DataFrame:
    """Apply the stateful sessionizer to a streaming events DataFrame
    (schema: streaming.incremental.EVENT_SCHEMA). Output mode: update.

    ``timeout_conf`` defaults to ProcessingTimeTimeout (production: quiet
    sessions flush via the timeout). Pass GroupStateTimeout.NoTimeout for
    bounded availableNow runs — pending timers otherwise keep the query
    alive past the data (timer batches never drain)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout_conf or GroupStateTimeout.ProcessingTimeTimeout,
    )
