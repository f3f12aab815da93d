"""Streaming pipeline sink: sessionized stream → hive-partitioned parquet.

The stream analogue of the hourly batch pipeline (EP1's output contract):
per-event session ids land in ``{out}/sessions/event_date=/event_hour=``,
the same layout batch consumers and the reference's validation DAG read
(``sessionization_batch_test.py:43,53``).

Exactly-once: a bare ``mode("append")`` inside ``foreachBatch`` is NOT
idempotent — if the driver dies after the write but before the checkpoint
commit, the restarted query re-runs the epoch and appends the rows twice.
The sink here makes epoch replay a no-op (or a clean rewrite) instead:

1. if the commit marker ``{out}/_epochs/{epoch}`` exists, skip — the epoch
   fully landed in a previous attempt;
2. delete any ``e{epoch}-*`` files under the hive tree (debris from a
   half-finished previous attempt of THIS epoch — every data file is
   tagged with the epoch that wrote it, so stale output is identifiable);
3. write the batch to a staging dir (``mode("overwrite")`` → replay-safe);
4. rename each staged file into its final partition as
   ``e{epoch}-{original-name}`` (rename is a cheap metadata op on
   HDFS-like stores);
5. write the commit marker.

A crash between any two steps leaves state the next attempt repairs:
steps 2-4 are retry-safe because the epoch tag makes the previous
attempt's files discoverable, and the marker only appears after every
file is in place. All filesystem access goes through the Hadoop
FileSystem API, so the contract holds on hdfs:// and object stores with
atomic rename, not just file://.

Concurrent attempts (round-3 hardening): two OVERLAPPING restarts — the
classic zombie-driver scenario — can race the same epoch. Sequential
replay safety is not enough there: with a shared staging dir the loser's
``mode("overwrite")`` can delete files the winner is mid-rename on, and
both attempts' (differently-named) part files can land, duplicating the
epoch. The writer therefore FENCES each epoch:

- a lock file ``_epochs/{epoch}.lock`` is taken via a genuinely atomic
  create-if-absent (``_try_lock``: O_EXCL on file://, HDFS's atomic
  ``create(overwrite=false)`` elsewhere — Hadoop's own
  ``FileSystem.createNewFile`` is a non-atomic exists-then-create and
  two racers can both "win" it; object stores without atomic create
  need an external fencing service, same caveat class as rename above);
- staging dirs are attempt-unique (``_staging/{epoch}-{uuid}``), so even
  a mis-fenced attempt can never clobber another's staged files;
- the loser polls: if the winner's commit marker appears it returns
  (no-op — the epoch landed exactly once); if the lock VANISHES (winner
  crashed pre-marker and released) it re-contends; if the lock goes
  STALE (holder died holding it) past ``lock_lease_sec`` it steals the
  lock and recovers via the normal debris-clean path; past
  ``contend_wait_sec`` it raises ``EpochContendedError`` rather than
  guess.

``tests/test_streaming_contention.py`` drives the real races: two
simultaneous writers (one commit, one no-op), a stale-lock zombie
recovery, and a live-lock timeout.

At scale: the state store carries the session state as one row per
user-hash bucket (see ``sessionize_stream.py``), so a micro-batch makes one
Python call per touched bucket rather than per user. Users are evicted by
pruning on touch, not by timeouts, so a batch has no timeout phase and an
``availableNow`` drain ends without a trailing no-data batch; the price is
that each touched bucket rewrites its whole state row every batch. A
checkpoint written by the earlier per-user state layout is rejected
(``STATE_STORE_*_SCHEMA_NOT_COMPATIBLE``) and needs a fresh checkpoint.
The sink's partition clustering per micro-batch keeps file counts at
(#hours touched per batch) × (#clustered tasks), and the cleanup glob in
step 2 scans only directory metadata.
"""

from __future__ import annotations

import time
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.sessions import DEFAULT_GAP_SECONDS
from commerce_sessionization_spark.streaming.sessionize_stream import (
    read_events_stream,
    sessionize_stream_stateful,
)


class EpochContendedError(RuntimeError):
    """Raised when an epoch's lock stays held past ``contend_wait_sec``
    without the holder committing — the caller must not assume the epoch
    landed, and must not write around the fence."""


def with_hour_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the hive partition columns from the event timestamp."""
    return df.withColumn(
        "event_date", F.date_format(ts_col, "yyyy-MM-dd")
    ).withColumn("event_hour", F.date_format(ts_col, "HH"))


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def _glob(fs, jvm, pattern: str):
    statuses = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
    return list(statuses) if statuses is not None else []


def _try_lock(fs, jvm, lock_path: str) -> bool:
    """Atomic create-if-absent — the fence primitive.

    Hadoop's ``FileSystem.createNewFile`` is a non-atomic exists-then-
    create (two racers can both 'win' it — caught by
    ``test_two_simultaneous_writers_commit_exactly_once``), so:
    - ``file://``: ``java.io.File.createNewFile`` — atomic O_EXCL.
    - everything else: ``create(path, overwrite=false)`` — atomic
      server-side on HDFS. Object stores without atomic create need an
      external fencing service (documented caveat).
    """
    if fs.getUri().getScheme() == "file":
        local = lock_path
        if local.startswith("file:"):
            local = local[len("file:"):]
        return jvm.java.io.File(local).createNewFile()
    try:
        fs.create(jvm.org.apache.hadoop.fs.Path(lock_path), False).close()
        return True
    except Exception:
        return False


def make_epoch_writer(
    spark: SparkSession,
    out_path: str,
    lock_lease_sec: float = 60.0,
    contend_wait_sec: float = 30.0,
    poll_sec: float = 0.2,
) -> Callable[[DataFrame, int], None]:
    """Build the idempotent ``foreachBatch`` function for ``{out}/sessions``.

    Public so tests (and backfill drivers) can invoke an epoch write
    directly and assert that replaying the same epoch id leaves the sink
    byte-identical — including two attempts replaying it CONCURRENTLY
    (see the module docstring's fencing protocol).
    """
    sessions_dir = f"{out_path}/sessions"
    epochs_dir = f"{out_path}/_epochs"
    staging_root = f"{out_path}/_staging"

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fs, jvm = _fs_and_path(batch_df.sparkSession, out_path)
        hpath = jvm.org.apache.hadoop.fs.Path
        marker = hpath(f"{epochs_dir}/{epoch_id}")
        lock = hpath(f"{epochs_dir}/{epoch_id}.lock")

        # --- fence: at most one live attempt per epoch -----------------
        deadline = time.time() + contend_wait_sec
        while True:
            if fs.exists(marker):
                return  # epoch fully committed (by us-before-crash or a peer)
            fs.mkdirs(hpath(epochs_dir))
            if _try_lock(fs, jvm, f"{epochs_dir}/{epoch_id}.lock"):
                break
            # contended: live writer, vanished lock, or stale crash?
            try:
                age_sec = (
                    time.time() * 1000.0
                    - fs.getFileStatus(lock).getModificationTime()
                ) / 1000.0
            except Exception:
                continue  # lock released between exists and stat → re-contend
            if age_sec > lock_lease_sec:
                # holder died mid-epoch: steal; the debris clean below
                # recovers whatever it half-renamed
                fs.delete(lock, False)
                continue
            if time.time() > deadline:
                raise EpochContendedError(
                    f"epoch {epoch_id}: lock held past {contend_wait_sec}s "
                    f"without a commit marker"
                )
            time.sleep(poll_sec)

        try:
            # clear debris from a half-finished attempt of this epoch
            for st in _glob(fs, jvm, f"{sessions_dir}/*/*/e{epoch_id}-*"):
                fs.delete(st.getPath(), False)

            # attempt-unique staging: even a mis-fenced peer can't clobber it
            staging = f"{staging_root}/{epoch_id}-{uuid.uuid4().hex}"
            (
                with_hour_partitions(batch_df)
                .repartition("event_date", "event_hour")
                .write.partitionBy("event_date", "event_hour")
                .mode("overwrite")
                .parquet(staging)
            )

            for st in _glob(
                fs, jvm, f"{staging}/event_date=*/event_hour=*/part-*"
            ):
                src = st.getPath()
                part_dir = src.getParent()  # event_hour=HH
                rel = f"{part_dir.getParent().getName()}/{part_dir.getName()}"
                dest_dir = hpath(f"{sessions_dir}/{rel}")
                fs.mkdirs(dest_dir)
                fs.rename(src, hpath(f"{dest_dir}/e{epoch_id}-{src.getName()}"))

            fs.delete(hpath(staging), True)
            fs.createNewFile(marker)
        finally:
            fs.delete(lock, False)

    return write_batch


def stream_sessions_to_parquet(
    spark,
    source_glob: str,
    out_path: str,
    checkpoint: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
    available_now: bool = True,
    **source_options: Any,
):
    """Wire source → stateful sessionize → partitioned parquet.

    Returns the started StreamingQuery; with ``available_now`` the query
    drains the backlog and stops (batch-like invocation of the stream
    pipeline — handy for backfills with streaming semantics). Safe to
    kill and restart with the same ``checkpoint``: source offsets and
    session state resume, and the epoch-keyed sink makes replayed
    micro-batches idempotent.
    """
    events = read_events_stream(spark, source_glob, **source_options)
    sessions = sessionize_stream_stateful(
        events, gap_seconds=gap_seconds, watermark=watermark
    )
    writer = sessions.writeStream.foreachBatch(
        make_epoch_writer(spark, out_path)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
