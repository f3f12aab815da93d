"""Sessionization benchmark: one command, every metric with its unit.

    python3 perfbench/run.py --workload hourly_backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md). The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Inputs, Spark's scratch space and the run record live under
``.perfbench_work/`` in the current directory; the inputs and outputs of a
run are deleted when it ends, its record and spans are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    from metrics import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    Spark's Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # pandas in Spark's Python workers warns on every micro-batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import commerce_sessionization_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from metrics import END_TO_END, PER_LAYER
    from tracing import cpu_ticks, host_cal_s

    out = os.path.join(os.getcwd(), ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(out, tag)
    records = os.path.join(out, "records")
    os.makedirs(records, exist_ok=True)
    configure_env(work)

    from workloads import WORKLOAD_CLASSES

    cal_before = host_cal_s()
    ticks_before = cpu_ticks()
    t0 = time.perf_counter()
    wl = WORKLOAD_CLASSES[args.workload](
        work, args.seed, args.seconds, bool(args.trace),
        spans_path=os.path.join(records, f"{tag}.spans.json"),
    )
    try:
        try:
            result = wl.run()
        finally:
            wl.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    steal_frac = steal / max(total, 1)
    cal_after = host_cal_s()

    failed_frac = result.failed / max(result.attempted, 1)
    if args.trace:
        metrics = {m.name: {"value": result.layer[m.name], "unit": m.unit} for m in PER_LAYER}
    else:
        metrics = {m.name: {"value": result.metrics[m.name], "unit": m.unit} for m in END_TO_END}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.perf_counter() - t0,
        "host_cal_s": {"before": cal_before, "after": cal_after},
        "host_steal_frac": steal_frac,
        "failed_frac": failed_frac, "attempted": result.attempted, "failed": result.failed,
        "metrics": metrics, **result.record,
    }
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)

    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed_frac:.6g} fraction")
    print(f"peak_rss_mb {result.record['peak_rss_mb']:.6g} MB, rss_p50_mb "
          f"{result.record['rss_p50_mb']:.6g} MB (run record only, unbounded)")
    print(f"host_cal_s {cal_before:.4f} -> {cal_after:.4f} s, cpu steal {steal_frac:.1%} "
          "(drift diagnostics, not metrics)")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }, default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
