"""Custom stateful streaming: applyInPandasWithState sessionizer.

``streaming.rollup.streaming_sessionize`` uses the built-in
``session_window`` (declarative gap-merge). This module is the CUSTOM
stateful twin for session semantics the built-in cannot express — here:
sessions emit a ``closed_by`` provenance tag ('gap' when a later event
from the same user closes the session, 'timeout' when the watermark
passes the session's gap horizon) and only CLOSED sessions are emitted
(append mode), which is what a downstream training-data pipeline wants
to consume exactly once.

State design (the 100 TB contract):
* state per user_id = one open session (4 int64s: start, last seen,
  count, cents) — O(active users), not O(events).
* event-time timeout at ``last_ts + gap``: the watermark both admits
  late data and GARBAGE-COLLECTS state; an abandoned user costs one
  state row until the watermark passes their horizon, then exactly one
  emitted session.
* all session arithmetic is int64 epoch-microseconds — no tz/float
  hazards crossing the Arrow boundary.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from ..plans.events import SESSION_GAP_US
from .rollup import EVENT_SCHEMA, _file_stream

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, value_cents bigint, closed_by string"
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)


def _session_row(user_id: int, s: tuple, closed_by: str) -> dict:
    start_us, last_us, n, cents = s
    return {
        "user_id": user_id,
        "session_start": pd.Timestamp(start_us, unit="us"),
        "session_end": pd.Timestamp(last_us, unit="us"),
        "n_events": n,
        "value_cents": cents,
        "closed_by": closed_by,
    }


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    closed: list[dict] = []

    if state.hasTimedOut:
        if state.exists:
            closed.append(_session_row(user_id, tuple(state.get), "timeout"))
            state.remove()
        if closed:
            yield pd.DataFrame(closed)
        return

    # Gather this micro-batch's events for the user, ordered by event time.
    events: list[tuple[int, int]] = []  # (ts_us, cents)
    for pdf in pdfs:
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        cents = (pdf["value"] * 100).round().astype("int64")
        events.extend(zip(ts_us.tolist(), cents.tolist()))
    events.sort()

    cur = tuple(state.get) if state.exists else None
    for ts_us, cents in events:
        if cur is None:
            cur = (ts_us, ts_us, 1, cents)
        elif ts_us - cur[1] > SESSION_GAP_US:
            closed.append(_session_row(user_id, cur, "gap"))
            cur = (ts_us, ts_us, 1, cents)
        else:
            cur = (cur[0], max(cur[1], ts_us), cur[2] + 1, cur[3] + cents)

    if cur is not None:
        state.update(cur)
        # Event-time timeout: fires once the watermark passes the horizon.
        state.setTimeoutTimestamp((cur[1] + SESSION_GAP_US) // 1000)
    if closed:
        yield pd.DataFrame(closed)


def streaming_sessionize_stateful(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """Streaming DataFrame of CLOSED sessions with close provenance."""
    return (
        _file_stream(spark, source_dir, fmt=fmt)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# -- transformWithStateInPandas (Spark 4 arbitrary-state API) --------------


def user_lifetime_totals(spark: SparkSession, source_dir: str) -> DataFrame:
    """Continuously-maintained per-user lifetime stats via transformWithState.

    The Spark 4 successor to applyInPandasWithState: typed state handles
    (ValueState here; List/Map state and timers exist) that survive
    across micro-batches in the state store. Each batch folds its rows
    into the user's running (n_events, total_cents) and emits the
    UPDATED row — a continuously-maintained aggregate whose state is one
    tiny row per user, the streaming complement of the batch RFM rollup.

    Requires the RocksDB state store provider (set by the caller/test:
    ``spark.sql.streaming.stateStore.providerClass``) and the
    ``protobuf`` package (the transformWithState control channel is
    proto-encoded; absent in this container, so the test skips there —
    the cogify/GDAL pattern: real API usage, honest environment gate).
    Cents stay exact integers end-to-end.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    import pandas as pd

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, cents = self._state.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                # per-event cents rounding, never a batch sum (that drifts
                # across batching). HALF-UP like F.round/DuckDB round —
                # Python round() is half-to-even and disagrees on exact .5
                cents += int(
                    pdf["value"].map(lambda v: math.floor(v * 100 + 0.5)).sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(source_dir)
        .select("user_id", "value")
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )
