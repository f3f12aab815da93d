"""The benchmark's workloads, driven through the engine's public functions.

Each run: generate the seeded inputs and write them to disk (the benchmark's
own work, untimed); start the session, then start it anew five times in the
running JVM and report the median; warm the last session up with untimed
full-size operations; run the timed region with tracing off; in a traced run,
run more of the same work with spans and Spark job groups; then check
every output outside the timed region. Memory is sampled over set-up, warm-up
and the timed region only.

The amount of timed work is fixed by ``--seconds`` and a nominal cost per
operation on a 4-vCPU host, not by a wall-clock deadline, so every run with
one ``--seconds`` does the same operations on the same inputs.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import oracle
from metrics import ANALYTICS_QUERIES, PER_LAYER, traced_by
from tracing import RestHarvester, RssSampler, Tracer, median

CORES = 4
SETUPS = 5


@dataclass
class RunResult:
    metrics: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    record: dict = field(default_factory=dict)

    def count(self, ops, failed) -> None:
        """Count the operations ``ops`` as attempted, and those of them in
        ``failed`` as failed."""
        ops = set(ops)
        self.attempted += len(ops)
        self.failed += len(ops & set(failed))


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool, spans_path: str):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spans_path = spans_path
        self.spark = None
        self.result = RunResult()
        self.rec = self.result.record
        self.raised: set = set()

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        """``get_spark``; returns its seconds. The first call launches the
        JVM; a call after ``spark.stop()`` builds a new session in it."""
        from commerce_sessionization_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.enabled": "true" if self.trace else "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            },
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM has ended
        (it exits when its stdin closes; Spark's Python workers go with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- the run ------------------------------------------------------------
    def run(self) -> RunResult:
        t0 = time.perf_counter()
        self.prepare()
        self.rec["gen_s"] = time.perf_counter() - t0
        with RssSampler() as rss:
            cold = self.start_session()
            starts = []
            for _ in range(SETUPS):
                self.spark.stop()
                starts.append(self.start_session())
            t = time.perf_counter()
            self.warm_up()
            self.rec["warm_s"] = time.perf_counter() - t
            t = time.perf_counter()
            self.timed()
        self.rec["cold_start_s"] = cold
        self.rec["session_start_s"] = starts
        self.rec["rss_base_mb"] = rss.base / 2**20
        self.rec["peak_rss_mb"] = rss.peak() / 2**20
        self.rec["rss_p50_mb"] = rss.median_since(t) / 2**20
        self.result.metrics["setup_s"] = median(starts)
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.traced()
            self.harvest()
            self.tracer.dump(self.spans_path)
            self.result.layer["session.start_s"] = median(starts)
            self.result.layer = {
                m.name: self.result.layer.get(m.name, 0.0) if m.name in traced_by(self.name) else 0.0
                for m in PER_LAYER
            }
        t = time.perf_counter()
        self.check()
        self.rec["check_s"] = time.perf_counter() - t
        return self.result

    def fail(self, op, e: Exception) -> None:
        """An operation that raises counts as failed."""
        self.raised.add(op)
        self.rec.setdefault("errors", []).append(repr(e)[:500])

    # subclass hooks
    def prepare(self) -> None: ...
    def warm_up(self) -> None: ...
    def timed(self) -> None: ...
    def traced(self) -> None: ...
    def harvest(self) -> None: ...
    def check(self) -> None: ...


def _files(pattern: str) -> list[str]:
    return [p for p in glob.glob(pattern) if os.path.isfile(p)]


# ==========================================================================
# hourly_backfill
# ==========================================================================

class HourlyBackfill(Workload):
    """``divide_file`` on Kaggle-shaped CSV chunks, then in-order
    ``sessionize_hour`` over consecutive hours (backfill semantics). The
    first chunk is the untimed warm-up; the timed hours carry sessions in
    from it."""

    name = "hourly_backfill"
    WARM_HOURS = 2
    CHUNK_HOURS = 3
    NOMINAL_HOUR_S = 2.0
    ANALYTICS_EVENTS = 100_000
    ANALYTICS_USERS = 25_000
    ANALYTICS_DAYS = 7

    def prepare(self) -> None:
        n = max(1, round(self.seconds / (self.CHUNK_HOURS * self.NOMINAL_HOUR_S)))
        sizes = [self.WARM_HOURS] + [self.CHUNK_HOURS] * (n + 1 if self.trace else n)
        self.traffic = gen.behavior_traffic(self.seed, sum(sizes))
        self.table = gen.behavior_table(self.seed, self.traffic)
        hours = gen.hour_index(self.traffic)
        chunks = gen.write_behavior_chunks(
            os.path.join(self.work, "csv"), self.table, hours, sizes
        )
        self.warm_chunks, self.timed_chunks = chunks[:1], chunks[1 : n + 1]
        self.traced_chunks = chunks[n + 1 :]
        self.hour_events = np.bincount(hours, minlength=sum(sizes))
        self.main = os.path.join(self.work, "pipeline")
        self.done_hours: list[int] = []
        self.rec["traffic"] = oracle.traffic_profile(
            self.traffic.user_id, self.traffic.ts_us, hours
        )

    def sessionize(self, h: int) -> None:
        from commerce_sessionization_spark.operators.sessionize import sessionize_hour

        d, hh = gen.hour_partition(h)
        sessionize_hour(self.spark, d, hh, self.main)

    def run_chunks(self, chunks) -> tuple[list[float], int, float]:
        """Divide each chunk, then sessionize its hours in order; return the
        per-hour seconds, the events and the wall seconds."""
        from commerce_sessionization_spark.operators.ingest import divide_file

        ops, events = [], 0
        t0 = time.perf_counter()
        for path, hours in chunks:
            try:
                divide_file(self.spark, path, self.main)
            except Exception as e:
                for h in hours:
                    self.fail(h, e)
            for h in hours:
                t = time.perf_counter()
                try:
                    self.sessionize(h)
                except Exception as e:
                    self.fail(h, e)
                ops.append(time.perf_counter() - t)
                events += int(self.hour_events[h])
                self.done_hours.append(h)
        return ops, events, time.perf_counter() - t0

    def warm_up(self) -> None:
        self.rec["warm_ops_s"] = self.run_chunks(self.warm_chunks)[0]

    def timed(self) -> None:
        ops, events, wall = self.run_chunks(self.timed_chunks)
        self.rec["ops_s"] = ops
        self.rec["timed_wall_s"] = wall
        self.result.metrics["events_per_s"] = events / wall
        self.result.metrics["op_p50_s"] = median(ops)

    # -- traced run ---------------------------------------------------------
    def traced(self) -> None:
        from commerce_sessionization_spark.operators.ingest import divide_file
        from commerce_sessionization_spark.operators.sessionize import (
            load_prev_active_sessions,
        )
        from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA
        from commerce_sessionization_spark.sources.io import (
            read_parquet,
            write_partitioned_parquet,
        )
        from pyspark.sql import functions as F

        tr, spark, base = self.tracer, self.spark, self.main
        probe = os.path.join(self.work, "write_probe")
        for path, hours in self.traced_chunks:
            before = set(_files(f"{base}/logs/*/*/*.parquet"))
            with tr.span("operators.ingest.divide") as s:
                divide_file(spark, path, base)
            s.counts["files_written"] = len(set(_files(f"{base}/logs/*/*/*.parquet")) - before)
            for h in hours:
                d, hh = gen.hour_partition(h)
                pd_, ph = gen.hour_partition(h - 1)
                with tr.span("sources.io.scan_hour") as s:
                    s.counts["rows"] = (
                        read_parquet(spark, f"{base}/logs", BEHAVIOR_SCHEMA)
                        .filter((F.col("event_date") == d) & (F.col("event_hour") == hh))
                        .count()
                    )
                with tr.span("operators.sessionize.carry_in") as s:
                    prev = read_parquet(spark, f"{base}/sessions", SESSION_SCHEMA).filter(
                        (F.col("event_date") == pd_) & (F.col("event_hour") == ph)
                    )
                    s.counts["rows"] = load_prev_active_sessions(
                        prev, datetime.strptime(f"{d} {hh}", "%Y-%m-%d %H")
                    ).count()
                with tr.span("operators.sessionize.hour") as s:
                    self.sessionize(h)
                self.done_hours.append(h)
                out = _files(f"{base}/sessions/event_date={d}/event_hour={hh}/*.parquet")
                s.counts["files_written"] = len(out)
                s.counts["bytes_written"] = sum(os.path.getsize(p) for p in out)
                with tr.span("sources.io.write_hour"):
                    write_partitioned_parquet(
                        read_parquet(spark, f"{base}/sessions", SESSION_SCHEMA).filter(
                            (F.col("event_date") == d) & (F.col("event_hour") == hh)
                        ),
                        probe,
                        cluster_before_write=False,
                    )
        self.result.layer["trace.overhead_ratio"] = median(
            tr.seconds("operators.sessionize.hour")) / median(self.rec["ops_s"])
        t0 = time.perf_counter()
        self.analytics_traced()
        self.rec["analytics_s"] = time.perf_counter() - t0

    def analytics_traced(self) -> None:
        """``session_analytics``'s layers: the five session-family catalog
        queries over a seeded events table, each to the noop sink."""
        from commerce_sessionization_spark.plans.queries import all_spark_queries
        from commerce_sessionization_spark.sources.tables import load_table

        t = gen.events_traffic(self.seed, self.ANALYTICS_EVENTS, self.ANALYTICS_USERS,
                               self.ANALYTICS_DAYS)
        self.sf_dir = os.path.join(self.work, "sf")
        self.events = gen.events_table(self.seed, t)
        self.events_path = gen.write_events(self.sf_dir, self.events)
        queries = all_spark_queries()

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        # the output check runs every query once, untraced: it is the warm-up
        t0 = time.perf_counter()
        self.check_analytics()
        self.rec["check_analytics_s"] = time.perf_counter() - t0
        with self.tracer.span("sources.tables.scan_events"):
            noop(load_table(self.spark, self.sf_dir, "events"))
        for q in ANALYTICS_QUERIES:
            with self.tracer.span(f"plans.queries.{q}"):
                noop(queries[q](self.spark, self.sf_dir))

    def harvest(self) -> None:
        tr, L = self.tracer, self.result.layer
        stats = RestHarvester(self.spark).harvest({s.group for s in tr.spans})

        def per(name, fn):
            return median(fn(s) for s in tr.named(name))

        L["operators.ingest.divide_s"] = median(tr.seconds("operators.ingest.divide"))
        L["operators.ingest.tasks"] = per("operators.ingest.divide", lambda s: stats[s.group].tasks)
        L["operators.ingest.files_written"] = per(
            "operators.ingest.divide", lambda s: s.counts["files_written"])
        L["sources.io.scan_hour_s"] = median(tr.seconds("sources.io.scan_hour"))
        L["sources.io.write_hour_s"] = median(tr.seconds("sources.io.write_hour"))
        hour = "operators.sessionize.hour"
        L["sources.io.files_written_per_hour"] = per(hour, lambda s: s.counts["files_written"])
        L["sources.io.bytes_written_per_hour"] = per(hour, lambda s: s.counts["bytes_written"])
        L["operators.sessionize.hour_s"] = median(tr.seconds(hour))
        L["operators.sessionize.carry_in_s"] = median(tr.seconds("operators.sessionize.carry_in"))
        L["operators.sessionize.carry_in_rows"] = per(
            "operators.sessionize.carry_in", lambda s: s.counts["rows"])
        for key, fn in (
            ("jobs_per_hour", lambda g: g.jobs),
            ("stages_per_hour", lambda g: g.stages),
            ("tasks_per_hour", lambda g: g.tasks),
            ("task_cpu_s_per_hour", lambda g: g.task_cpu_s),
            ("shuffle_bytes_per_hour", lambda g: g.shuffle_bytes),
            ("spill_bytes_per_hour", lambda g: g.spill_bytes),
        ):
            L[f"operators.sessionize.{key}"] = per(hour, lambda s, fn=fn: fn(stats[s.group]))
        L["sources.tables.scan_events_s"] = median(tr.seconds("sources.tables.scan_events"))
        for q in ANALYTICS_QUERIES:
            (s,) = tr.named(f"plans.queries.{q}")
            g = stats[s.group]
            p = f"plans.queries.{q}"
            L[f"{p}.wall_s"] = s.seconds
            L[f"{p}.task_cpu_s"] = g.task_cpu_s
            L[f"{p}.shuffle_bytes"] = g.shuffle_bytes
            L[f"{p}.spill_bytes"] = g.spill_bytes
            L[f"{p}.stages"] = g.stages
            L[f"{p}.max_task_s"] = max(g.task_s, default=0.0)
            L[f"{p}.median_task_s"] = median(g.task_s)

    # -- output checks --------------------------------------------------------
    def check(self) -> None:
        """Every hour the run processed, warm-up and traced hours included."""
        hours = self.done_hours
        keep = np.isin(gen.hour_index(self.traffic), hours)
        table = self.table
        user = table["user_id"].to_numpy()[keep]
        expected = pd.DataFrame({
            "hour": gen.hour_index(self.traffic)[keep],
            "user_id": user,
            "event_time": table["event_time"].to_numpy(zero_copy_only=False)[keep],
            "session_id": oracle.hourly_ids(user, self.traffic.ts_us[keep]),
        })
        got = self.read_hours(f"{self.main}/sessions", ["user_id", "event_time", "session_id"])
        logs = self.read_hours(f"{self.main}/logs", ["user_id"])
        failed = oracle.failed_groups(expected, got, "hour",
                                      ["user_id", "event_time", "session_id"])
        # the reference DAG's invariant: each hour's sessions match its logs
        parity = got.groupby("hour").size().reindex(hours, fill_value=0) != (
            logs.groupby("hour").size().reindex(hours, fill_value=0))
        failed |= set(parity.index[parity.to_numpy()])
        if failed - set(hours):  # rows in an hour the run never wrote
            failed |= set(hours)
        self.rec["failed_hours"] = sorted(int(h) for h in failed)
        self.result.count(hours, failed | self.raised)

    def read_hours(self, path: str, cols: list[str]) -> pd.DataFrame:
        parts = ds.partitioning(
            pa.schema([("event_date", pa.string()), ("event_hour", pa.string())]), flavor="hive"
        )
        df = ds.dataset(path, format="parquet", partitioning=parts).to_table(
            columns=[*cols, "event_date", "event_hour"]
        ).to_pandas()
        start = pd.Timestamp(gen.KAGGLE_START)
        stamp = pd.to_datetime(df["event_date"].astype(str) + " " + df["event_hour"].astype(str),
                               format="%Y-%m-%d %H", utc=True)
        df["hour"] = ((stamp - start) // pd.Timedelta(hours=1)).astype(np.int64)
        return df.drop(columns=["event_date", "event_hour"])

    def check_analytics(self) -> None:
        """Each query against its own DuckDB oracle SQL on the same table;
        ``sessionize_events`` also against the independent gap rule."""
        import duckdb
        from commerce_sessionization_spark.plans.queries import FULL_CATALOG

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.events_path}'")
        oracles = {q.name: q for q in FULL_CATALOG}
        bad = []
        for name in ANALYTICS_QUERIES:
            spark_df = oracles[name].spark(self.spark, self.sf_dir).toPandas()
            ok = oracle.same_rows(spark_df, con.execute(oracles[name].oracle).df())
            if ok and name == "sessionize_events":
                ev = self.events
                want = pd.DataFrame({
                    "event_id": ev["event_id"].to_numpy(),
                    "session_id": oracle.micros_ids(ev["user_id"].to_numpy(),
                                                    ev["ts"].cast("int64").to_numpy()),
                })
                ok = oracle.same_rows(spark_df[["event_id", "session_id"]], want)
            if not ok:
                bad.append(name)
        self.rec["failed_queries"] = bad
        self.result.count(ANALYTICS_QUERIES, bad)


# ==========================================================================
# stream_sessions
# ==========================================================================

def _data_batches(query) -> list:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


class StreamSessions(Workload):
    """Drain a backlog of one-minute parquet drops through
    ``stream_sessions_to_parquet`` (``availableNow``, one file per trigger),
    starting from an empty checkpoint. The warm-up drains a separate,
    smaller backlog of the same traffic profile into a throwaway sink."""

    name = "stream_sessions"
    WARM_DROPS = 2
    NOMINAL_BATCH_S = 2.0
    AWAIT_S = 150

    def prepare(self) -> None:
        self.n_drops = max(3, round(self.seconds / self.NOMINAL_BATCH_S))
        self.traffic = gen.stream_traffic(self.seed, self.n_drops)
        self.table = gen.stream_table(self.seed, self.traffic)
        self.drop = gen.drop_index(self.traffic)
        self.rec["traffic"] = oracle.traffic_profile(
            self.traffic.user_id, self.traffic.ts_us, self.drop
        )
        for tag in ("main", *(("compute", "full") if self.trace else ())):
            gen.write_drops(self.dirs(tag)[0], self.table, self.drop, 0, self.n_drops)
        warm = gen.stream_traffic(self.seed + 1, self.WARM_DROPS)
        gen.write_drops(self.dirs("warm")[0], gen.stream_table(self.seed + 1, warm),
                        gen.drop_index(warm), 0, self.WARM_DROPS)

    def dirs(self, tag: str) -> tuple[str, str, str]:
        d = os.path.join(self.work, tag)
        return f"{d}/src", f"{d}/out", f"{d}/ckpt"

    def drain(self, tag: str):
        from commerce_sessionization_spark.streaming.pipeline import (
            stream_sessions_to_parquet,
        )

        src, out, ckpt = self.dirs(tag)
        q = stream_sessions_to_parquet(self.spark, src, out, ckpt, maxFilesPerTrigger="1")
        self.await_query(q)
        return q

    def await_query(self, q) -> None:
        if not q.awaitTermination(self.AWAIT_S):
            q.stop()
            raise TimeoutError(f"stream did not drain within {self.AWAIT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def warm_up(self) -> None:
        q = self.drain("warm")
        self.rec["warm_ops_s"] = [p["durationMs"]["triggerExecution"] / 1000.0
                                  for p in _data_batches(q)]
        shutil.rmtree(os.path.join(self.work, "warm"), ignore_errors=True)

    def timed(self) -> None:
        t0 = time.perf_counter()
        try:
            batches = _data_batches(self.drain("main"))
        except Exception as e:  # every batch of a drain that raises failed
            for d in range(self.n_drops):
                self.fail(d, e)
            batches = []
        wall = time.perf_counter() - t0
        ops = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
        self.untraced_wall = wall
        self.rec["ops_s"] = ops
        self.rec["timed_wall_s"] = wall
        self.result.metrics["events_per_s"] = len(self.drop) / wall
        self.result.metrics["op_p50_s"] = median(ops) if ops else wall

    # -- traced run ---------------------------------------------------------
    def traced(self) -> None:
        from commerce_sessionization_spark.streaming.sessionize_stream import (
            read_events_stream,
            sessionize_stream_stateful,
        )

        tr, L = self.tracer, self.result.layer
        src, _, ckpt = self.dirs("compute")
        with tr.span("streaming.sessionize_stream.compute") as compute:
            events = read_events_stream(self.spark, src, maxFilesPerTrigger="1")
            q = (
                sessionize_stream_stateful(events)
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            self.await_query(q)
        batches = _data_batches(q)
        state = [p["stateOperators"][0] for p in batches]
        L["streaming.sessionize_stream.compute_s"] = compute.seconds
        L["streaming.sessionize_stream.batch_p50_s"] = median(
            p["durationMs"]["triggerExecution"] / 1000.0 for p in batches)
        L["streaming.sessionize_stream.keys_per_batch"] = median(s["numRowsUpdated"] for s in state)
        L["streaming.sessionize_stream.state_rows"] = state[-1]["numRowsTotal"]
        L["streaming.sessionize_stream.state_memory_bytes"] = state[-1]["memoryUsedBytes"]
        L["streaming.sessionize_stream.state_update_ms_per_batch"] = median(
            s["allUpdatesTimeMs"] for s in state)
        L["streaming.sessionize_stream.state_commit_ms_per_batch"] = median(
            s["commitTimeMs"] for s in state)

        with tr.span("streaming.pipeline.drain") as full:
            q = self.drain("full")
        _, out, _ = self.dirs("full")
        L["streaming.pipeline.sink_s"] = full.seconds - compute.seconds
        L["streaming.pipeline.files_written"] = len(_files(f"{out}/sessions/*/*/e*-part-*"))
        L["streaming.pipeline.wal_commit_ms_per_batch"] = median(
            p["durationMs"]["walCommit"] for p in _data_batches(q))
        L["trace.overhead_ratio"] = full.seconds / self.untraced_wall

    # -- output checks --------------------------------------------------------
    def check(self) -> None:
        drops = range(self.n_drops)
        failed = self.check_drain("main")
        self.rec["failed_drops"] = sorted(int(d) for d in failed)
        self.result.count(drops, failed | self.raised)
        if self.trace:
            failed = self.check_drain("full")
            self.rec["failed_drops_traced"] = sorted(int(d) for d in failed)
            self.result.count([("traced", d) for d in drops],
                              [("traced", d) for d in failed])

    def check_drain(self, tag: str) -> set:
        """Every input event lands once, with the gap rule's id."""
        _, out, _ = self.dirs(tag)
        expected = pd.DataFrame({
            "drop": self.drop,
            "event_id": self.table["event_id"].to_numpy(),
            "session_id": oracle.micros_ids(self.traffic.user_id, self.traffic.ts_us),
        })
        files = _files(f"{out}/sessions/*/*/e*-part-*")
        got = pd.concat(
            [pq.read_table(p, columns=["event_id", "session_id"]).to_pandas() for p in files],
            ignore_index=True,
        ) if files else pd.DataFrame({"event_id": [], "session_id": []})
        ids = got["event_id"].to_numpy().astype(np.int64)
        in_range = (ids >= 0) & (ids < len(self.drop))
        got["drop"] = np.where(in_range, self.drop[np.clip(ids, 0, len(self.drop) - 1)], -1)
        failed = oracle.failed_groups(expected, got, "drop", ["event_id", "session_id"])
        if -1 in failed:  # rows no input has: the whole drain is wrong
            failed |= set(range(self.n_drops))
        return failed


WORKLOAD_CLASSES = {w.name: w for w in (HourlyBackfill, StreamSessions)}
