"""Regenerate CATALOG.md from plans/queries.py (run after catalog edits).

The doc is generated, not hand-written, so it can't drift from the code:
every query's name, driver-window membership, oracle status, and
one-line description come straight from the QueryDef list.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from commerce_sessionization_spark.plans.queries import (  # noqa: E402
    CATALOG,
    EXTENDED_CATALOG,
)
from gen_rotation import grade_counts  # noqa: E402


OUT = Path(__file__).resolve().parent.parent / "CATALOG.md"


def render() -> str:
    """The full text of CATALOG.md for the current catalog and grades."""
    counts = grade_counts()
    graded_ever = sum(
        1
        for q in CATALOG + EXTENDED_CATALOG
        if counts.get(q.name, {}).get("graded", 0) > 0
    )
    lines = [
        "# Query catalog (generated — do not edit; run "
        "`python tools/gen_catalog_md.py`)",
        "",
        f"{len(CATALOG) + len(EXTENDED_CATALOG)} queries: the driver "
        f"grades the {len(CATALOG)}-query window; the "
        f"{len(EXTENDED_CATALOG)} extended entries hold the same "
        "QueryDef contract (oracle-paired unless noted) and are checked "
        "by `tools/check_oracle.py` + pytest.",
        "",
        f"`grades` counts the CORRECTNESS_r*.json rounds in which the "
        f"driver graded the query (green in parentheses); {graded_ever} "
        "queries have been driver-graded at least once. "
        "`python tools/gen_rotation.py` proposes the next window "
        "(36 family sentinels + 14 rotating slots by ascending grade "
        "count).",
        "",
    ]
    for title, cat in (
        ("Driver window (graded)", CATALOG),
        ("Extended catalog", EXTENDED_CATALOG),
    ):
        lines += [f"## {title}", "",
                  "| query | oracle | grades | description |",
                  "|---|---|---|---|"]
        for q in cat:
            oracle = "sql" if q.oracle is not None else "rows-only"
            c = counts.get(q.name, {"graded": 0, "green": 0})
            g = f"{c['graded']} ({c['green']}✓)" if c["graded"] else "0"
            lines.append(f"| `{q.name}` | {oracle} | {g} | {q.doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    OUT.write_text(render())
    print(f"wrote {OUT} ({len(CATALOG) + len(EXTENDED_CATALOG)} queries)")


if __name__ == "__main__":
    main()
