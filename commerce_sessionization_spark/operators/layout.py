"""Z-order data layout: multi-dimensional clustering for file skipping.

A hive partition key prunes one dimension; queries that filter two or
more columns (user AND time, price AND date) still scan every file in
the matching partition. Z-ordering interleaves the bits of several
columns' bucket ranks into one clustering key, then range-partitions and
sorts the write by that key — each output file covers a small HYPERCUBE
of the filtered space, so parquet footer min/max statistics prune files
for predicates on ANY prefix-free combination of the clustered columns.

All arithmetic is built-in integer expressions (shiftleft / bitwise OR),
JVM-side and codegen-friendly. The only extra pass is one scalar
min/max aggregate per clustered column, broadcast back as literals-via-
join — at 100 TB that's a single column-pruned scan, and in practice
the bounds come from table metadata for free.

The write path is ``repartitionByRange`` on the z-key (range exchange =
one shuffle — the same shuffle ANY clustered write pays) followed by a
within-partition sort, so file boundaries are contiguous z-ranges.
Skew: range partitioning samples the key distribution, so hot z-cells
split across files rather than hot-spotting one reducer.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.session import pin


def _bucket(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Rank ``col`` into ``2**bits`` equal-width buckets of [cmin, cmax]."""
    n = 1 << bits
    span = (cmax.cast("double") - cmin.cast("double"))
    frac = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span
                  ).otherwise(F.lit(0.0))
    return F.least(F.floor(frac * n).cast("long"), F.lit(n - 1))


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> DataFrame:
    """Append ``_zkey``: bit-interleaved bucket ranks of ``cols``.

    ``bits`` per dimension; the key has ``bits * len(cols)`` significant
    bits (≤ 63 total). Numeric and timestamp columns both work — the
    bucket rank is computed on the double cast.
    """
    names = list(cols)
    if bits * len(names) > 63:
        raise ValueError("bits * len(cols) must fit a signed long")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_min_{c}") for c in names],
        *[F.max(F.col(c).cast("double")).alias(f"_max_{c}") for c in names],
    )
    with_bounds = df.join(F.broadcast(bounds))
    buckets = [
        _bucket(
            F.col(c), F.col(f"_min_{c}"), F.col(f"_max_{c}"), bits
        ).alias(f"_b_{c}")
        for c in names
    ]
    staged = with_bounds.select(*df.columns, *buckets)
    # interleave: output bit (b * ndims + i) takes bit b of dimension i
    terms = [
        F.shiftleft(
            F.shiftright(F.col(f"_b_{c}"), b).bitwiseAND(F.lit(1)),
            b * len(names) + i,
        )
        for b in range(bits)
        for i, c in enumerate(names)
    ]
    zkey = reduce(lambda a, t: a.bitwiseOR(t), terms[1:], terms[0])
    return staged.select(*df.columns, zkey.alias("_zkey"))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    num_files: int = 16,
) -> None:
    """Write ``df`` as parquet clustered by the z-order of ``cols``.

    Files are contiguous z-ranges: predicates on any subset of ``cols``
    skip files via footer min/max stats without reading data pages.
    """
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global dense 1..N ordinals under a TOTAL order — without the
    single-partition window.

    ``row_number().over(Window.orderBy(...))`` funnels the whole table
    through one task (Spark even warns); the scalable formulation is
    two-phase: range-partition on the order keys, rank WITHIN each
    partition (local sort only), then shift each partition by the row
    count of all partitions before it. The per-partition counts are
    the only driver state (num_partitions integers — the kmeans-model
    pattern), and the offset table broadcasts back. The assigned ranks
    are a pure function of the total order, so they are identical for
    ANY partition boundaries the range sampler picks — which is what
    lets a SQL oracle replay them with a plain row_number.

    ``order_cols`` must be a total order (add a unique tiebreak);
    ranks of tied rows would otherwise depend on partitioning.
    """
    from pyspark.sql import Window

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # pinned: the counts collect and the ranked output must see the
    # SAME partition assignment
    with_pid = pin(with_pid)
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "_pid int, _offset long")
    )
    w_local = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        with_pid.join(off_df, "_pid")
        .withColumn(rank_col, F.row_number().over(w_local) + F.col("_offset"))
        .drop("_pid", "_offset")
    )


def shard_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    shard_col: str = "shard_id",
    hash_col: str = "shard_key",
) -> DataFrame:
    """Deterministic pseudo-random shard placement for the final corpus.

    The last step of a training-data pipeline: the corpus must reach
    the trainer in an order uncorrelated with crawl/source/time order,
    split into N same-sized shards. Placement and within-shard order
    both derive from ``sha2('shard:' || id)`` — reproducible
    run-to-run, engine-replayable (a SQL oracle can recompute every
    assignment), and salted independently from ``hash_split``'s
    'split:' domain so shard placement never correlates with the
    train/val/test gate. Adds ``shard_col`` (= key mod ``n_shards``)
    and ``hash_col`` (the 60-bit order key).

    Uniformity comes from SHA-256: shard sizes concentrate at
    corpus/N with multiplicative deviation O(sqrt(N/corpus)) — at any
    real corpus scale the imbalance is <1%, so no shard becomes a
    straggler task.
    """
    from commerce_sessionization_spark.functions.hashing import hex_to_long

    key = hex_to_long(
        F.sha2(F.concat(F.lit("shard:"), F.col(id_col).cast("string")), 256)
    )
    return df.withColumn(hash_col, key).withColumn(
        shard_col, F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    )


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
) -> DataFrame:
    """Per-shard manifest of the sharded corpus: (shard_id, n_docs,
    n_tokens, n_bytes, min/max order key). The manifest is what a
    training job reads to plan epoch schedules and what a data audit
    diffs run-over-run; sums over it must equal corpus totals (pinned
    in tests). One scan, one map-side-combinable aggregation keyed on
    the (uniform) shard id — no sort, no window.
    """
    a = shard_assignment(df, id_col=id_col, n_shards=n_shards)
    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        a.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("n_tokens"),
            F.sum(F.octet_length(F.col(text_col)).cast("long")).alias(
                "n_bytes"
            ),
            F.min("shard_key").alias("min_key"),
            F.max("shard_key").alias("max_key"),
        )
    )


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> None:
    """Write ``df`` as ``n_shards`` hive-partitioned parquet shards
    (``shard_id=K/``), each internally ordered by the deterministic
    shard key (then id, a total-order tiebreak for key collisions).

    Scale shape: ONE hash-partition exchange on the shard id (each of
    the N output tasks owns exactly one shard directory) plus a
    within-partition sort — the same shuffle any partitioned write
    pays; no global sort, no single-partition window, and the sort
    spills per-task rather than per-corpus. Re-running is idempotent
    (dynamic overwrite semantics are inherited from the session conf).
    """
    a = shard_assignment(df, id_col=id_col, n_shards=n_shards)
    # the sort leads with shard_id: the dynamic-partition writer demands
    # its output ordered by the partition columns and would otherwise
    # insert its own NON-STABLE sort on shard_id alone, destroying the
    # within-shard key order this writer exists to provide
    (
        a.repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "shard_key", id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
