"""Per-query Spark JOB count + wall for the graph family.

VERDICT r10 item 1: the graph loops' remaining cost is per-iteration
driver jobs (pin materialization + broadcast collects) — this probe
counts them so the round-11 fix has a before/after receipt.

    SF_DIR=<scale-factor dir> python tools/graph_jobs_probe.py [query ...]

``SF_DIR`` names the scale-factor directory (default sf0.1). The session
comes from ``session.get_spark``, so it runs on ``local[$SPARK_GRAFT_CPUS]``
like every other script; job counts are the receipt, walls are leads.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

os.environ["SPARK_UI"] = "true"  # must be set before the JVM starts

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from commerce_sessionization_spark.plans.queries import all_spark_queries  # noqa: E402
from commerce_sessionization_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "pagerank_copurchase_fast",
    "pagerank_copurchase",
    "ppr_copurchase_fast",
    "wpagerank_copurchase_fast",
    "hits_copurchase_fast",
    "kcore_parts",
    "lpa_communities",
    "triangle_counts",
    "part_hop_distances",
    "part_weighted_distances",
]


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")] or DEFAULT
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="graph-jobs-probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_spark_queries()
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def n_jobs() -> int:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
        ) as r:
            return len(json.load(r))

    # warmup: absorb codegen/executor startup
    queries["event_type_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    out = {}
    for name in names:
        # run twice; report the warm (second) run — matches bench medians
        for run in range(2):
            j0 = n_jobs()
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            jobs = n_jobs() - j0
        out[name] = {"jobs": jobs, "wall_s": round(wall, 3)}
        print(f"{name:32s} jobs={jobs:4d} wall={wall:7.3f}s", flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
