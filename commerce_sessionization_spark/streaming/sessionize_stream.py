"""Streaming sessionization: session_window aggregation + stateful ids.

Two formulations of the 30-minute-gap rule on an unbounded stream:

- ``sessionize_stream_window`` — Spark's native ``session_window`` gap
  aggregation (built-in state store, watermark-driven eviction). Emits one
  row per closed session; per-event rows are not recoverable from it.
- ``sessionize_stream_stateful`` — ``applyInPandasWithState`` keyed by a
  user-hash bucket, ``pmod(xxhash64(user), N_BUCKETS)``: every event is
  emitted with the *same deterministic session id the batch operator mints*
  (``sha256("{user}-{epoch_micros(session_start)}")``, cf.
  ``operators.sessions.sessionize``) — so a consumer can mix batch backfill
  and live stream output without id drift. This is the stream analogue of
  the reference's sessions-table carry-in
  (``SessionizationBuiltIn.scala:46-52``): state the batch job externalizes
  to parquet lives in the state store instead.

State layout: one state row per bucket, not per user. The row holds the
bucket's active users with their session starts and last-seen times as
three sorted int64 arrays packed as binary, plus the bucket count it was
written with (a changed ``N_BUCKETS`` would silently remap users, so the
function raises on a mismatch instead). A micro-batch therefore makes at
most ``N_BUCKETS`` Python calls, each sessionizing its rows in NumPy
(``lexsort`` by user and time, carried state found by ``searchsorted``,
one sha256 per session), where a per-user key made one Python round trip
per distinct user — the dominant cost of a batch.

Eviction is prune-on-touch: the operator runs with
``GroupStateTimeout.NoTimeout``, and every call drops the users whose
last event is more than the gap behind the watermark. Such a user's next
admissible event starts a new session anyway, so pruning cannot change an
id; it removes the event-time timeout phase of every batch and the
trailing no-data batch that a moved watermark used to force at the end of
an ``availableNow`` drain. The trade-off: a touched bucket rewrites its
whole state row each batch (state bytes written per batch grow with the
active users of the touched buckets, not with the batch's users), and an
untouched bucket keeps its expired users until its next event arrives.

Checkpoints: the state key and schema differ from the earlier per-user
layout (one ``(session_start_us, last_seen_us)`` row per user), so Spark
rejects such a checkpoint with ``STATE_STORE_*_SCHEMA_NOT_COMPATIBLE``;
resuming needs a fresh checkpoint.

Scale notes (100 TB/day): state is O(#active users) × 24 bytes — tens of
GB across 1000 executors at billions of users, well inside RocksDB
state-store territory, but split over only ``N_BUCKETS`` rows; a
deployment at that scale raises ``N_BUCKETS`` (with a fresh checkpoint) so
each row stays small. The stream shuffles once per micro-batch on the
bucket, and late events are bounded by the watermark: an event older than
``delay`` is dropped rather than resurrecting an expired session (the
batch pipeline's equivalent failure is silent mis-sessionization — SURVEY
§2.8; the stream is strictly safer).

Disorder: rows behind the watermark are dropped by design; how a late
row inside it is sessionized is stated once, on
``sessionize_stream_stateful``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from commerce_sessionization_spark.operators.sessions import DEFAULT_GAP_SECONDS

#: Events-stream wire schema (matches the testdata ``events`` table's core).
EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)

#: Users hash into this many state keys; a micro-batch makes one Python
#: call per touched bucket. Changing it remaps users to other state rows,
#: so each row records the count it was written with.
N_BUCKETS = 16

_BUCKET_STATE_SCHEMA = StructType(
    [
        StructField("n_buckets", IntegerType()),
        StructField("users", BinaryType()),
        StructField("starts_us", BinaryType()),
        StructField("lasts_us", BinaryType()),
    ]
)

_EMPTY = np.empty(0, dtype=np.int64)


def read_events_stream(
    spark, path: str, schema: StructType = EVENT_STREAM_SCHEMA, **options: Any
) -> DataFrame:
    """File-source stream of event parquet drops (append-only directory)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def sessionize_stream_window(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-session aggregate stream via native ``session_window``.

    Output (append mode, finalized on watermark passage): one row per closed
    session with bounds and event count. The state store merges overlapping
    gap windows; no custom code touches state.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, f"{gap_seconds} seconds"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def _mint_id(user: Any, start_us: int) -> str:
    # identical preimage to operators.sessions.sessionize:
    # sha2(concat_ws("-", user, unix_micros(session_start)), 256)
    return hashlib.sha256(f"{user}-{start_us}".encode()).hexdigest()


def _pack(a: np.ndarray) -> bytes:
    return np.ascontiguousarray(a, dtype="<i8").tobytes()


def _unpack(b: bytes) -> np.ndarray:
    return np.frombuffer(b, dtype="<i8")


def _sessionize_bucket(
    user: np.ndarray,
    ts_us: np.ndarray,
    users: np.ndarray,
    starts: np.ndarray,
    lasts: np.ndarray,
    gap_us: int,
):
    """Gap-rule session ids for one bucket's admitted rows.

    ``users``/``starts``/``lasts`` are the carried state (sorted by user).
    Returns the row order (by user, then time), each ordered row's id, and
    the merged state.
    """
    order = np.lexsort((ts_us, user))
    u, t = user[order], ts_us[order]
    first = np.r_[True, u[1:] != u[:-1]]
    last = np.r_[u[1:] != u[:-1], True]

    # a row's gap runs from its user's maximum admitted timestamp: the
    # carried last-seen (the floor; INT64_MIN when nothing is carried, so
    # the user's first row opens a session) or an earlier row of the batch
    pos = np.searchsorted(users, u)
    found = pos < len(users)
    found[found] = users[pos[found]] == u[found]
    carried = first & found
    floor = np.full(len(u), np.iinfo(np.int64).min)
    floor[found] = lasts[pos[found]]
    prev = np.r_[t[:1], t[:-1]]
    prev[first] = floor[first]
    prev = np.maximum(prev, floor)
    new_session = t > prev + gap_us

    # one anchor per session touched by the batch: a new session, or the
    # carried session a user's first row continues
    is_anchor = new_session | carried
    anchor = np.flatnonzero(is_anchor)
    anchor_start = t[anchor]
    cont = ~new_session[anchor]
    anchor_start[cont] = starts[pos[anchor[cont]]]
    ids = np.array(
        [_mint_id(x, s) for x, s in zip(u[anchor].tolist(), anchor_start.tolist())],
        dtype=object,
    )
    seg = np.cumsum(is_anchor) - 1

    # merge: the batch's users replace their carried rows
    b_users, b_starts = u[last], anchor_start[seg[last]]
    b_lasts = np.maximum(t[last], floor[last])
    keep = np.ones(len(users), dtype=bool)
    keep[pos[last & found]] = False
    all_users = np.concatenate((users[keep], b_users))
    merged = np.argsort(all_users, kind="stable")
    return (
        order,
        ids[seg],
        all_users[merged],
        np.concatenate((starts[keep], b_starts))[merged],
        np.concatenate((lasts[keep], b_lasts))[merged],
    )


def _make_bucket_fn(user_col: str, ts_col: str, gap_us: int, out_cols: list[str]):
    gap_ms = gap_us // 1000

    def assign_sessions(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        users = starts = lasts = _EMPTY
        if state.exists:
            n_buckets, users, starts, lasts = state.get
            if n_buckets != N_BUCKETS:
                raise RuntimeError(
                    f"bucket {key[0]}: state written with {n_buckets} buckets, "
                    f"code has {N_BUCKETS}; users would be remapped — "
                    "restart the query from a fresh checkpoint"
                )
            users, starts, lasts = _unpack(users), _unpack(starts), _unpack(lasts)

        batch = pd.concat(list(pdfs), ignore_index=True)
        # a null turns the column to float64, which rounds large user ids
        if batch[user_col].isna().any():
            raise ValueError(f"{user_col!r} has a null: every event needs a user")
        ts_us = batch[ts_col].to_numpy("datetime64[us]").astype(np.int64)
        # enforce the late-data contract ourselves: unlike aggregations,
        # applyInPandasWithState does NOT pre-filter rows behind the
        # watermark — without this, a straggler could resurrect or corrupt
        # an expired session
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            admitted = ts_us // 1000 >= wm_ms
            batch, ts_us = batch[admitted], ts_us[admitted]
            # prune-on-touch: a user whose per-user timeout
            # (last_seen + gap, in ms) the watermark has passed is dead —
            # any admissible event of theirs is over the gap away
            live = lasts // 1000 + gap_ms + 1 >= wm_ms
            users, starts, lasts = users[live], starts[live], lasts[live]

        out = None
        if len(batch):
            order, ids, users, starts, lasts = _sessionize_bucket(
                batch[user_col].to_numpy(np.int64), ts_us,
                users, starts, lasts, gap_us,
            )
            out = batch.iloc[order].assign(session_id=ids)[out_cols]
        if len(users):
            state.update((N_BUCKETS, _pack(users), _pack(starts), _pack(lasts)))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return assign_sessions


def sessionize_stream_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-event session ids on a stream, with the batch operator's ids.

    ``applyInPandasWithState`` keyed by ``pmod(xxhash64(user_col),
    N_BUCKETS)``; emits every admitted input row plus ``session_id``.
    ``user_col`` must be an integral column (``TypeError`` here otherwise)
    without nulls (a micro-batch bringing a null user raises
    ``ValueError``).

    The gap rule: within a micro-batch a user's rows are taken in
    timestamp order, and a row opens a session iff it comes more than
    ``gap_seconds`` after the user's maximum admitted timestamp so far
    (carried across micro-batches in the state). Emitted ids are never
    retracted. So ids equal ``operators.sessions.sessionize`` when each
    user's events arrive in timestamp order across micro-batches, and a
    late row inside the watermark never splits a session; but a late row
    that comes before its session's emitted start joins that session under
    the start already emitted, where the batch operator would mint the id
    from the earlier row.
    """
    if not isinstance(events.schema[user_col].dataType, IntegralType):
        raise TypeError(
            f"{user_col!r} must be an integral column: bucket state keeps "
            "users as int64 arrays"
        )
    out_schema = StructType(
        [*events.schema.fields, StructField("session_id", StringType())]
    )
    out_cols = [f.name for f in out_schema.fields]
    fn = _make_bucket_fn(user_col, ts_col, gap_seconds * 1_000_000, out_cols)
    return (
        events.withWatermark(ts_col, watermark)
        .withColumn(
            "_bucket", F.pmod(F.xxhash64(user_col), F.lit(N_BUCKETS)).cast("int")
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
