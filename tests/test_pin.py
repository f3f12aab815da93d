"""``session.pin`` is the engine's one checkpoint pin, with the contract its
docstring states: eager, lineage-truncating, serialized with disk spill."""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import commerce_sessionization_spark
from commerce_sessionization_spark.session import pin

PACKAGE = Path(commerce_sessionization_spark.__file__).parent


def test_pin_snapshots_at_call_time(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    pinned = pin(spark.read.parquet(src).filter("id > 2"))
    shutil.rmtree(src)
    assert sorted(r.id for r in pinned.collect()) == list(range(3, 10))


def test_pin_truncates_lineage(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    df = spark.read.parquet(src)

    def plan(d):
        return d._jdf.queryExecution().optimizedPlan().toString().lower()

    assert "parquet" in plan(df)
    assert "parquet" not in plan(pin(df))


def test_pin_stores_serialized_with_disk(spark):
    pinned = pin(spark.range(10))
    level = pinned._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    assert level.useDisk() and level.useMemory()
    assert not level.deserialized()
    assert level.description().startswith("Disk Memory Serialized")


def _local_checkpoint_calls(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    allowed: set[int] = set()
    if path == PACKAGE / "session.py":
        fn = next(
            n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "pin"
        )
        allowed = {id(n) for n in ast.walk(fn)}
    return [
        f"{path.relative_to(PACKAGE)}:{n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "localCheckpoint"
        and id(n) not in allowed
    ]


def test_pin_is_the_only_local_checkpoint():
    calls = [c for p in sorted(PACKAGE.rglob("*.py")) for c in _local_checkpoint_calls(p)]
    assert calls == []
