"""Loader for the driver-generated testdata tables (TESTDATA.md).

The testdata parquet stores timestamps as TIMESTAMP(NANOS, isAdjustedToUTC
= false), which Spark's parquet reader rejects outright. With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in ``session.get_spark``)
those columns arrive as long nanoseconds; we convert to TimestampType here
via integer µs truncation — bit-identical to what DuckDB's reader does, so
oracle comparisons line up exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commerce_sessionization_spark.schemas import (
    ALL_TESTDATA_TABLES,
    TESTDATA_NANO_TS_COLUMNS,
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view → raw ``spark.sql``
    surface over the same data the DataFrame queries use (timestamps
    normalized identically via ``load_table``)."""
    for name in ALL_TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, converting nano-long timestamp columns."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in TESTDATA_NANO_TS_COLUMNS.get(name, []):
        if dtypes.get(col) == "bigint":
            # floor-divide nanos → micros matches DuckDB's ns→µs truncation
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes.get(col, "").startswith("timestamp_ntz"):
            # NTZ wall-time == UTC instant for this dataset; cast so window
            # arithmetic (unix_micros etc.) works uniformly downstream
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
