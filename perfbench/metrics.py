"""Metric catalog: every end-to-end and per-layer metric, with its unit and
the end-to-end metric and workload a change in its layer should move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the two
in step.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Timed workloads (``--workload``).
WORKLOADS = ("hourly_backfill", "stream_sessions")

#: Designed but not timed: its layers are traced inside ``hourly_backfill``'s
#: traced run (see README.md, "session_analytics is not a timed workload").
TRACED_ONLY = ("session_analytics",)

ANALYTICS_QUERIES = (
    "sessionize_events",
    "sessionize_events_bucketed",
    "session_stats",
    "session_pattern_match",
    "conversion_funnel_24h",
)


@dataclass(frozen=True)
class EndToEnd:
    name: str
    unit: str
    better: str
    bound: float


END_TO_END = (
    EndToEnd("setup_s", "s", "lower", 0.25),
    EndToEnd("events_per_s", "1/s", "higher", 0.25),
    EndToEnd("op_p50_s", "s", "lower", 0.25),
)


@dataclass(frozen=True)
class Layer:
    """One per-layer metric. ``moves`` is the end-to-end metric it feeds;
    ``workload`` the workload whose run measures it; ``quiet_on`` the
    workloads whose end-to-end figures it should leave alone. Every layer
    metric counts time, work or memory, so lower is better."""

    name: str
    unit: str
    moves: str
    workload: str
    quiet_on: tuple[str, ...]


def _layers() -> tuple[Layer, ...]:
    hb, ss, sa = "hourly_backfill", "stream_sessions", "session_analytics"
    out = [Layer("session.start_s", "s", "setup_s", hb, ())]
    for name, unit in (("divide_s", "s"), ("tasks", "count"), ("files_written", "count")):
        out.append(Layer(f"operators.ingest.{name}", unit, "events_per_s", hb, (ss, sa)))
    for name, unit in (("scan_hour_s", "s"), ("write_hour_s", "s"),
                       ("files_written_per_hour", "count"),
                       ("bytes_written_per_hour", "bytes")):
        out.append(Layer(f"sources.io.{name}", unit, "op_p50_s", hb, (sa,)))
    for name, unit, moves in (
        ("hour_s", "s", "op_p50_s"),
        ("carry_in_s", "s", "op_p50_s"),
        ("carry_in_rows", "count", "events_per_s"),
        ("jobs_per_hour", "count", "op_p50_s"),
        ("stages_per_hour", "count", "op_p50_s"),
        ("tasks_per_hour", "count", "op_p50_s"),
        ("task_cpu_s_per_hour", "s", "events_per_s"),
        ("shuffle_bytes_per_hour", "bytes", "events_per_s"),
        ("spill_bytes_per_hour", "bytes", "events_per_s"),
    ):
        out.append(Layer(f"operators.sessionize.{name}", unit, moves, hb, (ss, sa)))
    out.append(Layer("sources.tables.scan_events_s", "s", "events_per_s", sa, (hb,)))
    for q in ANALYTICS_QUERIES:
        for name, unit in (("wall_s", "s"), ("task_cpu_s", "s"), ("shuffle_bytes", "bytes"),
                           ("spill_bytes", "bytes"), ("stages", "count"),
                           ("max_task_s", "s"), ("median_task_s", "s")):
            out.append(Layer(f"plans.queries.{q}.{name}", unit, "op_p50_s", sa, (hb, ss)))
    for name, unit, moves in (
        ("compute_s", "s", "events_per_s"),
        ("batch_p50_s", "s", "op_p50_s"),
        ("keys_per_batch", "count", "op_p50_s"),
        ("state_rows", "count", "op_p50_s"),
        ("state_memory_bytes", "bytes", "op_p50_s"),
        ("state_update_ms_per_batch", "ms", "op_p50_s"),
        ("state_commit_ms_per_batch", "ms", "op_p50_s"),
    ):
        out.append(Layer(f"streaming.sessionize_stream.{name}", unit, moves, ss, (hb, sa)))
    for name, unit in (("sink_s", "s"), ("files_written", "count"),
                       ("wal_commit_ms_per_batch", "ms")):
        out.append(Layer(f"streaming.pipeline.{name}", unit, "op_p50_s", ss, (hb, sa)))
    out.append(Layer("trace.overhead_ratio", "ratio", "op_p50_s", hb, ()))
    return tuple(out)


PER_LAYER = _layers()


def traced_by(workload: str) -> set[str]:
    """Per-layer metrics the traced run of ``workload`` measures; it reports
    every other one as 0 (that layer does not run in the workload)."""
    hosts = {workload, *(("session_analytics",) if workload == "hourly_backfill" else ())}
    names = {m.name for m in PER_LAYER if m.workload in hosts}
    return names | {"session.start_s", "trace.overhead_ratio"}
