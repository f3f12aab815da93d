"""SparkSession factory with scale-oriented defaults.

The reference builds its session ad hoc per entry point
(``SessionizationBuiltIn.scala:17-22``, ``DailyFileDivider.scala:11-16``);
we centralize it so every entry point gets the same scale-hardened config:

- **AQE on** (coalesce partitions + skew-join handling) — at 100 TB the
  static shuffle-partition count is always wrong; AQE re-plans at runtime.
- **Dynamic partition overwrite** — idempotent hourly re-runs replace only
  the touched ``(event_date, event_hour)`` partition (a correctness
  requirement for backfills, cf. ``SessionizationBuiltIn.scala:21``).
- **UTC session timezone** — session ids hash a *string-rendered* timestamp
  (``SessionizationBuiltIn.scala:76-77``); any timezone drift changes every
  id. Pinned here once.
- **ANSI mode on** — overflow, invalid casts and division by zero raise
  instead of yielding null. Spark 4 defaults to it; pinned so a cluster
  default cannot turn it off under the engine.
- **nanosAsLong** — the testdata parquet stores TIMESTAMP(NANOS) which the
  vectorized reader rejects; we read nanos as long and convert explicitly
  (see ``sources.tables``).
- **Arrow** — pandas UDF exchange is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "commerce-sessionization-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local-mode default is 1g, far under this box; only effective when
        # the JVM starts here (cluster deploys size executors externally)
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
