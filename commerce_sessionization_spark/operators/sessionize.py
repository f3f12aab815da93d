"""Reference-parity sessionization core (SURVEY §2.5, §3 EP1).

Semantics ported from ``SessionizationBuiltIn.scala`` (the production path;
the deprecated UDF variant ``SessionizationUdf.scala:10-13`` is intentionally
NOT ported — it materializes whole user histories via collect_list and breaks
codegen). All logic is declarative window functions: one window spec over
``(user_id, event_timestamp)`` carries the lag-gap, boundary seeding, and
forward fill in a single exchange+sort; the prev-active selection is a second
window over ``(session_id, event_timestamp desc)``.

Session rule: a user's events ≤ 30 min apart share a session; a gap > 1800 s
starts a new one (``SessionizationBuiltIn.scala:12``). Session ids are
deterministic: ``sha2(concat_ws("-", user_id, event_timestamp), 256)`` where
the timestamp renders as a *string* (``SessionizationBuiltIn.scala:76-77``) —
hence the engine pins ``spark.sql.session.timeZone=UTC``; any tz drift would
change every id.

Scale notes (100 TB): the per-user window shuffles once on ``user_id``
(Catalyst collapses W1-W4 into one WindowExec); hot users are bounded by one
hour of events + 1 carried row, so the sort is small per key. The
reference's final global ``sort(event_timestamp)``
(``SessionizationBuiltIn.scala:110``) is replaced by a partition-local sort
in the window's own stage: no range exchange and no sampling job, and each
written file ascends by event time (an hour's files may overlap in time).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.sessions import DEFAULT_GAP_SECONDS
from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA
from commerce_sessionization_spark.sources.io import (
    read_parquet,
    write_partitioned_parquet,
)

#: 30-minute inactivity gap, seconds (``SessionizationBuiltIn.scala:12``).
SESSION_EXPIRED_SECONDS = DEFAULT_GAP_SECONDS

#: Stored event_time format (``SessionizationBuiltIn.scala:82-85``).
EVENT_TIME_FORMAT = "yyyy-MM-dd HH:mm:ss 'UTC'"


def with_event_timestamp(df: DataFrame) -> DataFrame:
    """Parse the stored string ``event_time`` into a transient timestamp."""
    return df.withColumn(
        "event_timestamp", F.to_timestamp("event_time", EVENT_TIME_FORMAT)
    )


def augment_session_id(df: DataFrame, process_time: datetime) -> DataFrame:
    """Assign ``session_id`` to every event of hour ``process_time``.

    Input: union of prev-hour active-session representatives (session_id
    populated) and current-hour behaviors (session_id NULL); see
    ``sessionize_hour``. A df without a session_id column is treated as
    having none carried in.

    Mirrors ``SessionizationBuiltIn.scala:68-113``:

    1. gap to the user's previous event via ``lag`` (W1)
    2. gaps > 1800 s → NULL boundary marker (W2)
    3. seed ids: keep carried id / mint sha2 at boundaries / NULL (W3)
    4. forward-fill via ``last(ignorenulls)`` (W4)
    5. drop carried prev-hour rows; keep only the processed hour (P5)
    6. sort each partition by timestamp, so every written file ascends by
       event time (O1, per file rather than global) + drop transients (P8)
    """
    if "session_id" not in df.columns:
        df = df.withColumn("session_id", F.lit(None).cast("string"))

    w = Window.partitionBy("user_id").orderBy("event_timestamp")

    df = with_event_timestamp(df)
    time_diff = F.unix_timestamp("event_timestamp") - F.unix_timestamp(
        F.lag("event_timestamp", 1).over(w)
    )
    df = df.withColumn(
        "time_diff",
        F.when(time_diff > SESSION_EXPIRED_SECONDS, F.lit(None)).otherwise(time_diff),
    )
    # W3: carried ids win; a NULL gap (first event or >30-min boundary) mints
    # a fresh id from the *string-rendered* timestamp (UTC session tz).
    df = df.withColumn(
        "session_id",
        F.when(F.col("session_id").isNotNull(), F.col("session_id"))
        .when(
            F.col("time_diff").isNull(),
            F.sha2(F.concat_ws("-", "user_id", "event_timestamp"), 256),
        )
        .otherwise(F.lit(None)),
    )
    # W4: propagate the session's id down to its remaining events.
    df = df.withColumn(
        "session_id",
        F.last("session_id", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # P5: carried-in prev-hour carrier rows are excluded from output.
    df = df.filter(
        (F.col("event_date") == process_time.strftime("%Y-%m-%d"))
        & (F.col("event_hour") == process_time.strftime("%H"))
    )
    # The partition columns lead the sort key: that is the order the
    # planned partitioned write requires, so it adds no sort of its own.
    df = df.sortWithinPartitions("event_date", "event_hour", "event_timestamp")
    return df.drop("event_timestamp", "time_diff").select(
        *[f.name for f in SESSION_SCHEMA.fields]
    )


def load_prev_active_sessions(df: DataFrame, process_time: datetime) -> DataFrame:
    """One representative row per still-active prev-hour session.

    Mirrors ``SessionizationBuiltIn.scala:117-134``: keep rows within 30 min
    of the processed hour's start (boundary *inclusive*,
    ``SessionizationBuiltIn.scala:129``), then per ``session_id`` keep only
    the latest event (row_number desc, rank 1) — so the 30-min expiry is
    measured from the session's last activity.
    """
    cutoff = process_time - timedelta(seconds=SESSION_EXPIRED_SECONDS)
    w = Window.partitionBy("session_id").orderBy(F.desc("event_timestamp"))
    return (
        with_event_timestamp(df)
        .filter(
            F.col("event_timestamp")
            >= F.to_timestamp(F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S")))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .drop("rank", "event_timestamp")
    )


def sessionize_hour(
    spark: SparkSession,
    event_date: str,
    event_hour: str,
    base_path: str,
    write: bool = True,
) -> DataFrame:
    """EP1 — the hourly incremental job (``SessionizationBuiltIn.scala:25-65``).

    Reads hour t's behaviors from ``{base}/logs`` and hour t-1's *own output*
    from ``{base}/sessions`` (externalized state — the batch analogue of a
    stream state store), unions still-active session representatives with the
    new events, re-runs the window chain, and dynamic-overwrites hour t of
    ``{base}/sessions``.
    """
    process_time = datetime.strptime(f"{event_date} {event_hour}", "%Y-%m-%d %H")
    prev_time = process_time - timedelta(hours=1)

    behaviors = read_parquet(spark, f"{base_path}/logs", BEHAVIOR_SCHEMA).filter(
        (F.col("event_date") == event_date) & (F.col("event_hour") == event_hour)
    )
    try:
        prev_sessions = read_parquet(
            spark, f"{base_path}/sessions", SESSION_SCHEMA
        ).filter(
            (F.col("event_date") == prev_time.strftime("%Y-%m-%d"))
            & (F.col("event_hour") == prev_time.strftime("%H"))
        )
    except AnalysisException as e:
        # first hour ever: no sessions table yet → empty carry-in. Any other
        # failure must surface: an empty carry-in would split sessions.
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        prev_sessions = spark.createDataFrame([], SESSION_SCHEMA)
    prev_active = load_prev_active_sessions(prev_sessions, process_time)

    unioned = prev_active.unionByName(behaviors, allowMissingColumns=True)
    sessions = augment_session_id(unioned, process_time)
    if write:
        write_partitioned_parquet(
            sessions, f"{base_path}/sessions", cluster_before_write=False
        )
    return sessions
