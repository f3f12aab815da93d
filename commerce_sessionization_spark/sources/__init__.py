from commerce_sessionization_spark.sources.io import (
    read_behaviors_csv,
    read_media_dir,
    read_warc_dir,
    write_wet,
    read_parquet,
    read_source,
    read_source_permissive,
    split_corrupt,
    write_bucketed_table,
    read_parquet_evolving,
    schema_diff,
    write_parquet_with_bloom,
    write_partitioned,
    write_partitioned_parquet,
)
from commerce_sessionization_spark.sources.generator import (
    CommerceEventsDataSource,
)
from commerce_sessionization_spark.sources.generator import (
    register as register_generator,
)
from commerce_sessionization_spark.sources.tables import load_table

__all__ = [
    "CommerceEventsDataSource",
    "register_generator",
    "read_behaviors_csv",
    "read_media_dir",
    "read_warc_dir",
    "write_wet",
    "read_parquet",
    "read_source",
    "read_source_permissive",
    "split_corrupt",
    "write_bucketed_table",
    "read_parquet_evolving",
    "schema_diff",
    "write_parquet_with_bloom",
    "write_partitioned",
    "write_partitioned_parquet",
    "load_table",
]
