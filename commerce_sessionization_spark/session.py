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

``pin`` is the engine's one ``localCheckpoint``: every operator that
materializes an intermediate calls it, so the storage level and the pin
contract are decided here once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

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


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a relation that reads the copy.

    The one checkpoint pin of the engine. It runs
    ``df.localCheckpoint(eager=True, storageLevel=MEMORY_AND_DISK)``:
    the blocks are stored serialized (Kryo, as ``get_spark`` sets) and
    spill to disk. ``localCheckpoint``'s own default is the deserialized
    level, whose per-row objects were the heap pressure behind every sf10
    out-of-memory failure of the iterative families (SCALE.md, "Round-7
    follow-up"), so no caller chooses a level.

    Contract, for every caller:

    - the input is snapshotted at CALL time, not at action time: the
      Spark job runs inside ``pin``;
    - filter and projection pushdown does not cross the pin;
    - the pin is not fault-tolerant to executor loss (the blocks live on
      the executors only; a caller that must recompute from source
      re-invokes its operator);
    - lineage is truncated, so a loop that pins its evolving state each
      round keeps an O(1) plan instead of one that grows per round.

    The other pin kind: a loop-INVARIANT input read every round (an edge
    list, an adjacency) is pinned with columnar ``persist(MEMORY_AND_DISK)``
    and released with ``unpersist``, not with ``pin``. Its plan does not
    grow, so truncation buys nothing, while ``InMemoryRelation`` keeps
    the input's ``outputPartitioning`` (a checkpoint forgets it) and its
    compressed column batches spill per batch.
    """
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
