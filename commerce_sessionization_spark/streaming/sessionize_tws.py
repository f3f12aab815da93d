"""Per-event streaming session ids on the transformWithState API
(Spark 4 arbitrary-state v2) — the modern twin of
``sessionize_stream_stateful`` (applyInPandasWithState, v1).

Why ship both: v1 is the widely-deployed API; v2 is where Structured
Streaming's stateful surface is headed — typed state handles
(value/list/map) instead of one tuple, first-class timers instead of a
single timeout slot, TTL support, and initial-state bootstrap. The
engine exposes the SAME session semantics on both so a user can migrate
APIs without re-validating the operator: both mint
``sha256(f"{user}-{unix_micros(session_start)}")``, identical to the
batch ``operators.sessions.sessionize`` (the three-way parity is
pytest-pinned).

Semantics (same contract as v1, ``sessionize_stream.py``):
- Intra-batch disorder is sorted away; in-order arrivals across batches
  match batch output exactly.
- Rows behind the watermark are dropped HERE: like v1, the arbitrary-
  state operator does not pre-filter late rows — a straggler could
  otherwise resurrect an expired session.
- State is one (session_start_us, last_seen_us) pair per user; a timer
  at ``last_seen + gap`` clears it once the watermark proves no
  admissible event can extend the session (the threshold v1 prunes its
  per-bucket state at, so state size is bounded by ACTIVE users, not
  all users ever seen). v1 keys its state by user-hash bucket instead
  of by user; the ids are the same.

Environment note: executing a transformWithState query requires the
``protobuf`` package (the Python↔JVM state-server protocol), which this
container does not ship — the same class of constraint as the
codec-bound media formats (``operators/multimodal.py``). Plan
construction works everywhere and is always tested; the execution
parity test skips when ``google.protobuf`` is missing and runs
anywhere Spark 4 + protobuf are installed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)
from pyspark.sql.types import StringType, StructField, StructType

from commerce_sessionization_spark.operators.sessions import DEFAULT_GAP_SECONDS
from commerce_sessionization_spark.streaming.sessionize_stream import _mint_id


class SessionProcessor(StatefulProcessor):
    """One value-state pair + one eviction timer per user."""

    def __init__(self, ts_col: str, gap_us: int, out_cols: list[str]):
        self._ts_col = ts_col
        self._gap_us = gap_us
        self._out_cols = out_cols

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState(
            "session", "start_us long, last_us long"
        )

    def handleInputRows(
        self,
        key: Any,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        batch = pd.concat(list(rows), ignore_index=True)
        if batch.empty:
            return
        # drop rows behind the watermark (not pre-filtered by the API)
        wm_ms = timerValues.getCurrentWatermarkInMs()
        if wm_ms > 0:
            batch = batch[
                batch[self._ts_col].astype("int64") // 1_000_000 >= wm_ms
            ]
            if batch.empty:
                return
        batch = batch.sort_values(
            self._ts_col, kind="mergesort", ignore_index=True
        )
        ts_us = (batch[self._ts_col].astype("int64") // 1000).to_numpy()

        prev = self._state.get()
        start_us, last_us = prev if prev is not None else (None, None)
        ids = []
        for t in ts_us:
            if last_us is None or t - last_us > self._gap_us:
                start_us = t
            last_us = t
            ids.append(_mint_id(user, start_us))
        batch["session_id"] = ids

        self._state.update((int(start_us), int(last_us)))
        # one live eviction timer per key: re-arm at last_seen + gap
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(
            int(last_us) // 1000 + self._gap_us // 1000 + 1
        )
        yield batch[self._out_cols]

    def handleExpiredTimer(
        self,
        key: Any,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        # watermark passed last_seen + gap: any admissible event would
        # start a fresh session, so the state is dead
        self._state.clear()
        return iter([])

    def close(self) -> None:
        pass


def sessionize_stream_tws(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """v2 twin of ``sessionize_stream_stateful`` — same output contract,
    built on ``transformWithStateInPandas`` with event-time timers."""
    out_schema = StructType(
        [*events.schema.fields, StructField("session_id", StringType())]
    )
    out_cols = [f.name for f in out_schema.fields]
    proc = SessionProcessor(ts_col, gap_seconds * 1_000_000, out_cols)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=out_schema,
            outputMode="Append",
            timeMode="EventTime",
        )
    )
