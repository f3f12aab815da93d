"""What every catalog module shares: the ``QueryDef`` contract and the
cross-engine helpers that keep Spark and its DuckDB oracle bit-identical
(the determinism rules are listed in ``plans/queries.py``)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


def _dec_sum(col, prec: int = 18) -> F.Column:
    """Order-independent sum: exact decimal accumulation, one cast back."""
    return F.sum(F.col(col).cast(f"decimal({prec},2)")).cast("double")


def _quant(col: F.Column, digits: int) -> F.Column:
    """floor(x·10^digits) as bigint — cross-engine-stable quantization.

    Spark's ``round`` re-renders the double through its shortest decimal
    string (BigDecimal.valueOf) while DuckDB rounds the binary value, so
    ties diverge; floor on the scaled double is bit-identical in both.
    """
    return F.floor(col * F.lit(float(10 ** digits))).cast("long")
