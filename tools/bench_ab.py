"""Interleaved A/B bench: per-query RATIOS between two code versions.

Round-9 finding (SCALE.md "same-day idle drift"): three idle runs of the
IDENTICAL committed 93-query set returned 156.6 -> 179.9 -> 203.3 s as
box uptime grew — each run its own fresh process, so the drift is
environmental, not JVM aging, and a raw round-over-round total cannot
separate a plan regression from the box getting slower. This harness
makes the regression signal drift-immune instead of trying to make the
box stable:

- The BASE ref is materialized as a read-only git worktree; each side
  runs in its own subprocess (fresh JVM — the package name is identical
  in both trees, so they can never share an import space).
- Phases run in ABBA order (A, B, B, A). Any drift that is LINEAR in
  wall-clock time cancels exactly in the per-side sums: side A's two
  phases straddle side B's, so both sides see the same mean epoch.
- The artifact reports per-query work/base ratios (median over the
  working tree's phases divided by median over the base phases) and
  their geometric mean — a number that stays meaningful when the
  absolute seconds do not. ratio > 1 means the working tree is slower.
- Each query also carries its per-pair ratios (phase i of A against
  phase i of B) and their min and max; ``slowest`` shows that
  [min, max] spread beside each ratio, so a per-query gate can tell a
  regression from the harness's own noise.

    python tools/bench_ab.py --base <git-ref | checkout-dir> [--queries a,b,...]
        [--repeats 2] [--phases 4] [--out BENCH_AB.json]

``--base`` may also name an existing checkout of the base (for example
a ``git archive`` export), which is used as is instead of a worktree.

Self-validation: `--base HEAD` (A == B code) measures the method's own
noise floor — the geomean must sit near 1.0 even on a drifting box;
round-10 recorded it in SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def shared_headline(base_dir: Path) -> list[str]:
    """Queries present in BOTH trees' bench.HEADLINE, in current order."""

    def headline_of(tree: Path) -> list[str]:
        out = subprocess.run(
            [
                sys.executable,
                "-c",
                "import json, sys; sys.path.insert(0, sys.argv[1]); "
                "import bench; print(json.dumps(bench.HEADLINE))",
                str(tree),
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    base = set(headline_of(base_dir))
    return [n for n in headline_of(REPO) if n in base]


def ensure_worktree(ref: str) -> Path:
    sha = subprocess.run(
        ["git", "rev-parse", "--short", ref],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    wt = Path(f"/tmp/bench_ab_{sha}")
    if not (wt / "bench.py").exists():
        subprocess.run(
            ["git", "worktree", "add", "--detach", "-f", str(wt), ref],
            cwd=REPO,
            check=True,
        )
    return wt


def run_phase(tree: Path, queries: list[str], repeats: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "bench_ab_worker.py"),
            "--repo-dir",
            str(tree),
            "--queries",
            ",".join(queries),
            "--repeats",
            str(repeats),
        ],
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        raise SystemExit(f"phase failed in {tree}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def query_ratio(base_phases: list[float], work_phases: list[float]) -> dict:
    """One query's work/base ratio and its spread.

    ``ratio`` is the median of the working tree's phases over the median
    of the base phases. ``pair_ratios`` pairs phase i of A with phase i
    of B (the ABBA order puts each pair in the same block), and
    ``ratio_min``/``ratio_max`` bound them: a ratio whose pairs straddle
    1.0 is within the harness's noise for that query.
    """
    a = statistics.median(base_phases)
    b = statistics.median(work_phases)
    pairs = [
        round(w / max(x, 1e-9), 4) for x, w in zip(base_phases, work_phases)
    ]
    return {
        "base": round(a, 3),
        "work": round(b, 3),
        "ratio": round(b / max(a, 1e-9), 4),
        "pair_ratios": pairs,
        "ratio_min": min(pairs),
        "ratio_max": max(pairs),
    }


def summarize(phase_timings: dict[str, list[dict[str, float]]],
              queries: list[str]) -> dict:
    """Per-query ratios, their geometric mean (``value``) and the five
    largest ratios (``slowest``), each as [query, ratio, [min, max]]."""
    per_query = {
        q: query_ratio(
            [p[q] for p in phase_timings["A"]],
            [p[q] for p in phase_timings["B"]],
        )
        for q in queries
    }
    geomean = round(
        statistics.geometric_mean(
            [max(v["ratio"], 1e-9) for v in per_query.values()]
        ),
        4,
    )
    slowest = sorted(
        (
            (q, v["ratio"], [v["ratio_min"], v["ratio_max"]])
            for q, v in per_query.items()
        ),
        key=lambda t: -t[1],
    )[:5]
    return {"value": geomean, "slowest": slowest, "queries": per_query}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True,
                    help="git ref or checkout directory for side A")
    ap.add_argument("--queries", default=None,
                    help="comma list (default: HEADLINE shared by both trees)")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--phases", type=int, default=4,
                    help="total phases in ABBA... order (must be even)")
    ap.add_argument("--warmup", type=int, default=1,
                    help="discarded lead-in phases (base tree). The "
                         "first measured phase must NOT start from a "
                         "cold idle box: the r10 first run measured A "
                         "at load 0.24 and B at 12.5 because only "
                         "phase 1 enjoyed the cold start — ABBA "
                         "cancels linear drift, not the lead-in "
                         "transient")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.phases % 4:
        # an even-but-not-4k count (6, 10, ...) truncates ABBA blocks
        # into a schedule where the two sides see different mean epochs
        # — linear drift then does NOT cancel, silently defeating the
        # harness. Whole ABBA blocks only.
        raise SystemExit("--phases must be a multiple of 4 (whole ABBA "
                         "blocks; truncated blocks break drift symmetry)")

    base_tree = (
        Path(args.base) if Path(args.base).is_dir() else ensure_worktree(args.base)
    )
    if args.queries:
        queries = [q for q in args.queries.split(",") if q]
    else:
        queries = shared_headline(base_tree)
    # ABBA / ABBAABBA...: side A takes phases 0 and 3 of each block of 4
    order = []
    for blk in range(args.phases // 4 + 1):
        order += ["A", "B", "B", "A"]
    order = order[: args.phases]

    for w in range(args.warmup):
        res = run_phase(base_tree, queries, args.repeats)
        print(
            f"# warmup {w + 1}/{args.warmup} (discarded) "
            f"load={res['load_avg']}",
            file=sys.stderr,
        )

    phase_timings: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    loads = []
    for i, side in enumerate(order):
        tree = base_tree if side == "A" else REPO
        res = run_phase(tree, queries, args.repeats)
        phase_timings[side].append(res["timings"])
        loads.append(res["load_avg"])
        done = {
            q: round(
                statistics.median([p[q] for p in phase_timings[side]]), 3
            )
            for q in queries[:1]
        }
        print(
            f"# phase {i + 1}/{len(order)} side={side} "
            f"load={res['load_avg']} first-query={done}",
            file=sys.stderr,
        )

    summary = summarize(phase_timings, queries)
    full = {
        "metric": "ab_ratio_geomean",
        "value": summary["value"],
        "unit": "work/base",
        "base_ref": args.base,
        "phases": order,
        "repeats": args.repeats,
        "load_avgs": loads,
        "n_queries": len(queries),
        "slowest": summary["slowest"],
        "queries": summary["queries"],
    }
    out_path = Path(args.out) if args.out else REPO / "bench_ab_result.json"
    out_path.write_text(json.dumps(full) + "\n")
    compact = {k: full[k] for k in (
        "metric", "value", "unit", "base_ref", "repeats", "n_queries",
        "load_avgs", "slowest",
    )}
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
