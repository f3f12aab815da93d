"""Local replica of the driver's correctness gate.

Runs each catalog query through Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, column-name sets, and the
order-insensitive multiset of values. Use while iterating:

    python tools/check_oracle.py                  # all queries @ sf0.01
    python tools/check_oracle.py knn_cosine ...   # subset
    SF_DIR=/root/testdata/sf0.001 python tools/check_oracle.py

The per-round sweep artifact: ``--all --json`` runs every catalog query
and writes ``ORACLE_SWEEP.json`` (per query: pass/fail, hash or
rows-only mode, Spark row count).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from commerce_sessionization_spark.plans.queries import FULL_CATALOG
from commerce_sessionization_spark.schemas import ALL_TESTDATA_TABLES
from commerce_sessionization_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
SWEEP_PATH = Path(__file__).resolve().parent.parent / "ORACLE_SWEEP.json"


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style canonicalization: repr of the double
        return repr(v)
    return str(v)


def row_key(row, cols):
    return tuple(norm(row[c]) for c in cols)


def check(spark, con, q) -> tuple[int | None, str | None]:
    """(Spark row count, failure message or None) of catalog query ``q``."""
    try:
        sdf = q.spark(spark, SF_DIR)
        scols = sorted(sdf.columns)
        srows = sdf.collect()
    except Exception as e:
        return None, f"spark error: {e}"
    if q.oracle is None:
        return len(srows), None
    try:
        cur = con.execute(q.oracle)
        duck_cols = [d[0] for d in cur.description]
        duck_rows = cur.fetchall()
    except Exception as e:
        return len(srows), f"duckdb error: {e}"
    dcols = sorted(duck_cols)
    if scols != dcols:
        return len(srows), f"columns differ spark={scols} duck={dcols}"
    if len(srows) != len(duck_rows):
        return len(srows), f"rowcount spark={len(srows)} duck={len(duck_rows)}"
    smult = sorted(row_key(r, scols) for r in srows)
    order = [duck_cols.index(c) for c in dcols]
    dmult = sorted(tuple(norm(r[i]) for i in order) for r in duck_rows)
    if smult != dmult:
        diff_s = [r for r in smult if r not in set(dmult)][:3]
        diff_d = [r for r in dmult if r not in set(smult)][:3]
        return len(srows), f"values differ; spark-only={diff_s} duck-only={diff_d}"
    return len(srows), None


def main(names: list[str], write_json: bool = False) -> int:
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in ALL_TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    results = []
    for q in FULL_CATALOG:
        if names and q.name not in names:
            continue
        t0 = time.time()
        rows, err = check(spark, con, q)
        mode = "hash" if q.oracle is not None else "rows-only"
        if err:
            print(f"FAIL {q.name}: {err}")
        else:
            print(f"ok   {q.name}: {mode}, {rows} rows ({time.time()-t0:.1f}s)")
        results.append({"query": q.name, "pass": err is None, "mode": mode,
                        "rows": rows, **({"error": err} if err else {})})
    failures = sum(not r["pass"] for r in results)
    print(f"{len(results) - failures}/{len(results)} passed")
    if write_json:
        SWEEP_PATH.write_text(json.dumps(
            {"sf": Path(SF_DIR).name, "passed": len(results) - failures,
             "failed": failures, "queries": results}, indent=1) + "\n")
        print(f"wrote {SWEEP_PATH}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="catalog query names")
    ap.add_argument("--all", action="store_true",
                    help="every catalog query (the default without names)")
    ap.add_argument("--json", action="store_true",
                    help=f"write the results to {SWEEP_PATH.name}")
    a = ap.parse_args()
    if a.all and a.queries:
        ap.error("--all takes no query names")
    raise SystemExit(main(a.queries, write_json=a.json))
