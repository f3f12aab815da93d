"""Regenerate PLANS.md: a physical-plan audit of every catalog query.

For each query, captures ``explain(mode="formatted")`` at sf0.001 and
counts the plan features the 100 TB story depends on — exchanges,
broadcast vs sort-merge joins, nested-loop joins, Python eval nodes,
parquet scans. The per-query numbers make plan regressions reviewable
in a diff (a new Exchange or a SortMergeJoin where a broadcast belongs
shows up as a one-line change), complementing the hard assertions in
``tests/test_plans.py``.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
)


def _count(plan: str, node: str) -> int:
    return len(re.findall(rf"\(\d+\) {node}", plan))


def plan_counts(plan: str) -> tuple[int, ...]:
    """A formatted plan's PLANS.md columns: exchanges, broadcast joins,
    sort-merge joins, loop joins, python nodes, parquet scans."""
    return (
        _count(plan, "Exchange"),
        _count(plan, "BroadcastHashJoin"),
        _count(plan, "SortMergeJoin"),
        _count(plan, "BroadcastNestedLoopJoin") + _count(plan, "CartesianProduct"),
        sum(_count(plan, n) for n in PY_NODES),
        _count(plan, "Scan parquet"),
    )


def plan_row(name: str, plan: str) -> str:
    """The PLANS.md table row of query ``name`` with formatted plan ``plan``."""
    return "| `{}` | {} | {} | {} | {} | {} | {} |".format(name, *plan_counts(plan))


def main() -> None:
    from commerce_sessionization_spark.plans.queries import FULL_CATALOG
    from commerce_sessionization_spark.session import get_spark

    spark = get_spark(app_name="plan-report", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for q in FULL_CATALOG:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.spark(spark, SF_DIR).explain(mode="formatted")
        rows.append((q.name, buf.getvalue()))

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    lines = [
        "# Physical-plan audit (generated — run "
        "`python tools/gen_plan_report.py`)",
        "",
        f"All {len(rows)} catalog queries, explained at sf0.001. How to "
        "read the totals:",
        "",
        "- **Loop joins** are the documented 1-row/sketch-sized scalar "
        "anchors, allowlisted one-by-one in `tests/test_plans.py` "
        "`_INTENDED_LOOP_JOINS` (the catalog-wide lint fails on any "
        "other).",
        "- **Python nodes** appear only in the tier-b Arrow-batched "
        "custom operators (next-fit sequence packing, the capped "
        "sessionizer, multimodal decode) — the shapes Spark's built-in "
        "operators genuinely cannot express; every other query is "
        "whole-stage-codegen JVM.",
        "- **Sort-merge joins** are big-big joins where neither side "
        "may broadcast (LSH band self-join, triangle wedges, Q21-style "
        "self-joins, CDC merge) — the correct plan at scale.",
        "",
        "| query | exchanges | broadcast joins | sort-merge joins | "
        "loop joins | python nodes | parquet scans |",
        "|---|---|---|---|---|---|---|",
    ]
    lines += [plan_row(name, plan) for name, plan in rows]
    counts = [plan_counts(plan) for _, plan in rows]
    tot = [sum(c[i] for c in counts) for i in range(6)]
    lines.append(
        "| **total** | {} | {} | {} | {} | {} | {} |".format(*tot)
    )
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
