"""Generic gap-based sessionization over any (user, timestamp) event table.

The reference hard-wires sessionization to its behavior schema; this module
generalizes the same window-function formulation (lag-gap → boundary seed →
forward fill, cf. ``SessionizationBuiltIn.scala:68-113``) to arbitrary
columns and gap lengths, with µs-precision arithmetic and a collision-free
id preimage (``"{user}-{epoch_micros(session_start)}"`` — the reference's
second-rendered string preimage can collide for two sessions of one user
starting within the same second).

Everything is built-ins inside one window spec → a single shuffle on the
user column and whole-stage codegen throughout; no UDFs.

Scale notes: state per user is just the running session-start — WindowExec
sorts within each user partition and spills if needed. For skewed users at
100 TB, partition the input by a time bucket first and carry boundaries like
the hourly pipeline does, or use the streaming variant
(``streaming.sessionize_stream``) whose state store holds one row per
user-hash bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 30 * 60


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: tuple[str, ...] = (),
    id_col: str = "session_id",
) -> DataFrame:
    """Assign a deterministic session id to every event.

    Events of one user ≤ ``gap_seconds`` apart share a session; larger gaps
    start a new one. ``order_cols`` breaks timestamp ties deterministically
    (pass the event's primary key).

    id = sha256("{user}-{epoch_micros(first event ts of the session)}").
    """
    order = [ts_col, *order_cols]
    w = Window.partitionBy(user_col).orderBy(*order)
    wfill = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    prev_ts = F.lag(ts_col, 1).over(w)
    gap_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)
    is_boundary = prev_ts.isNull() | (gap_us > gap_seconds * 1_000_000)

    session_start = F.last(
        F.when(is_boundary, F.col(ts_col)), ignorenulls=True
    ).over(wfill)
    session_id = F.sha2(
        F.concat_ws("-", F.col(user_col), F.unix_micros(session_start)), 256
    )
    return df.withColumn(id_col, session_id)


def sessionize_bucketed(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    bucket_hours: int = 24,
    order_cols: tuple[str, ...] = (),
    id_col: str = "session_id",
) -> DataFrame:
    """Skew-proof sessionize: identical output to ``sessionize``, bounded
    per-task memory.

    ``sessionize`` sorts each user's *entire* history inside one window
    partition — at 100 TB a hot user (bot, load tester) becomes one giant
    sort. Here the window partitions by ``(user, time_bucket)`` so no task
    ever sorts more than one bucket of one user; sessions that span bucket
    boundaries are stitched afterwards:

    1. tentative sessionization within each ``(user, bucket)`` window;
    2. per-bucket summary row (first/last ts, last tentative start);
    3. per user, two window passes over the (tiny — #buckets) summary,
       ordered by bucket: a bucket's first session merges into the
       previous bucket's last one when the boundary gap ≤ ``gap_seconds``,
       inheriting the chain's true start — which keeps propagating while
       a bucket holds a single merged session;
    4. join the corrected starts back on ``(user, bucket)`` and re-mint ids.

    Two bounded shuffles + one summary-sized shuffle instead of one
    unbounded-sort shuffle. Ids are byte-identical to ``sessionize``
    (property-tested in ``tests/test_sessions_bucketed.py``).
    """
    gap_us = gap_seconds * 1_000_000
    bucket_us = bucket_hours * 3600 * 1_000_000
    t = F.unix_micros(F.col(ts_col))
    work = df.withColumn("_b", F.floor(t / F.lit(bucket_us)).cast("long"))

    w1 = Window.partitionBy(user_col, "_b").orderBy(ts_col, *order_cols)
    prev = F.lag(ts_col, 1).over(w1)
    boundary = prev.isNull() | ((t - F.unix_micros(prev)) > gap_us)
    work = work.withColumn(
        "_tstart",
        F.last(F.when(boundary, F.col(ts_col)), ignorenulls=True).over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )

    summ = work.groupBy(user_col, "_b").agg(
        F.min(ts_col).alias("_first_ts"),
        F.max(ts_col).alias("_last_ts"),
        F.max("_tstart").alias("_last_start"),
    )

    # chain = the true start of each bucket's last session: its own last
    # tentative start, unless the bucket holds only one session (that start
    # is its first event) and that session merges into the previous bucket.
    wb = Window.partitionBy(user_col).orderBy("_b")
    prev_last = F.lag("_last_ts").over(wb)
    merge = prev_last.isNotNull() & (
        F.unix_micros(F.col("_first_ts")) - F.unix_micros(prev_last) <= gap_us
    )
    single = F.col("_last_start") == F.col("_first_ts")
    chain = F.last(
        F.when(~(single & F.col("_merge")), F.col("_last_start")),
        ignorenulls=True,
    ).over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fixes = (
        summ.withColumn("_merge", merge)
        .withColumn("_chain", chain)
        .select(
            user_col,
            "_b",
            "_first_ts",
            F.when(F.col("_merge"), F.lag("_chain").over(wb))
            .otherwise(F.col("_first_ts"))
            .alias("_fixed_start"),
        )
    )

    # A bucket's first tentative session always starts at its first event;
    # only rows of that first session take the corrected start.
    return (
        work.join(fixes, [user_col, "_b"])
        .withColumn(
            "_start",
            F.when(F.col("_tstart") == F.col("_first_ts"), F.col("_fixed_start"))
            .otherwise(F.col("_tstart")),
        )
        .withColumn(
            id_col,
            F.sha2(
                F.concat_ws(
                    "-", F.col(user_col), F.unix_micros(F.col("_start"))
                ),
                256,
            ),
        )
        .drop("_b", "_tstart", "_first_ts", "_fixed_start", "_start")
    )


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "session_id",
    value_col: str | None = "value",
) -> DataFrame:
    """Per-session rollup: bounds, duration, event count, optional value sum.

    One hash-aggregation keyed by session id (partial map-side combine makes
    this shuffle-light: the reduced row count is #sessions, not #events).
    """
    aggs = [
        F.first(user_col).alias(user_col),
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col)))
            / F.lit(1_000_000.0)
        ).alias("duration_sec"),
    ]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
    return sessions.groupBy(id_col).agg(*aggs)


def sessionize_capped(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    cap_seconds: int | None = 4 * 3600,
    order_cols: tuple[str, ...] = (),
    id_col: str = "session_id",
) -> DataFrame:
    """Gap sessionization with an absolute duration cap (bot hygiene):
    a session also splits once an event lands more than ``cap_seconds``
    after the session's *chosen start*.

    This is the engine's tier-b custom operator (SURVEY §7 hierarchy):
    the cap makes each boundary depend on the previous boundary decision
    — a running reset — so no fixed-frame window (lag/last) can express
    it declaratively; it needs per-group imperative logic. Implemented
    as Arrow-batched ``applyInPandas`` keyed by ``user_col``: one
    shuffle (the same key as plain ``sessionize``), per-task memory
    bounded by one user's history (for hot users, pre-bucket like
    ``sessionize_bucketed``), and ids minted from the *same preimage*
    ``sha256("{user}-{epoch_micros(start)}")`` — so with the cap
    disabled the output is byte-identical to the built-in-window
    operator, which is exactly how the Pandas path is oracle-checked
    (``capped_sessionize_parity`` + ``tests/test_sessions_capped.py``).
    """
    import hashlib

    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    gap_us = gap_seconds * 1_000_000
    cap_us = None if cap_seconds is None else cap_seconds * 1_000_000
    order = [ts_col, *order_cols]
    # a fresh StructType — StructType.add would mutate df.schema in place
    out_schema = StructType(
        list(df.schema.fields) + [StructField(id_col, StringType())]
    )

    def assign(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        # naive timestamps are session-tz (UTC) wall time == epoch micros
        ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64")
        user = pdf[user_col].iloc[0]
        ids = []
        start = prev = None
        for t in ts_us:
            if (
                start is None
                or (t - prev) > gap_us
                or (cap_us is not None and (t - start) > cap_us)
            ):
                start = t
            prev = t
            ids.append(
                hashlib.sha256(f"{user}-{start}".encode()).hexdigest()
            )
        pdf[id_col] = ids
        return pdf

    return df.groupBy(user_col).applyInPandas(assign, schema=out_schema)
