"""Mergeable frequency / quantile sketches as flat aggregations.

Companions to the KMV / HyperLogLog distinct sketches in
``plans/queries.py``: every sketch here is a small table of cells whose
merge operation is a plain ``sum`` (count-min, histogram) — so partial
aggregation happens map-side, per-partition sketches fold into global
ones with one tiny shuffle, and day-level sketches merge across
partitions/time without touching raw data again. That mergeability is
the whole point at 100 TB: an exact heavy-hitter or quantile pass
shuffles the full key/value universe; these shuffle O(cells).

Hashes derive from SHA-256 (``functions.hashing``) so the DuckDB oracles
can replay the exact same cell assignment — the correctness gate checks
the sketch bit-for-bit, not "estimate is close" (accuracy properties are
asserted separately in pytest).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.functions.hashing import hex_to_long
from commerce_sessionization_spark.session import pin

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_cells_for(key: F.Column, depth: int, width: int) -> F.Column:
    """array<struct<r_idx,c_idx>> — the key's cell per sketch row."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r_idx"),
                (
                    hex_to_long(
                        F.sha2(F.concat(F.lit(f"{r}:"), key), 256)
                    )
                    % width
                ).alias("c_idx"),
            )
            for r in range(depth)
        ]
    )


def count_min_cells(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch of ``key_col``'s frequency distribution.

    Output: ``(r_idx, c_idx, cnt)`` — ``depth × width`` cells,
    ``cnt = Σ count(key)`` over keys hashing to the cell. Merge two
    sketches by summing matching cells.

    Counts aggregate per key FIRST (map-side combinable on the raw
    column), then only |distinct keys| rows pay the ``depth`` SHA-256
    cell hashes — not every key instance. At 100 TB that's hashing the
    vocabulary, not the corpus.
    """
    key = F.col(key_col).cast("string")
    per_key = df.groupBy(key.alias("_k")).agg(F.count(F.lit(1)).alias("_n"))
    return (
        per_key.select(
            "_n", F.explode(_cms_cells_for(F.col("_k"), depth, width)).alias("rc")
        )
        .groupBy(
            F.col("rc.r_idx").alias("r_idx"), F.col("rc.c_idx").alias("c_idx")
        )
        .agg(F.sum("_n").alias("cnt"))
    )


def count_min_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query every distinct key against the sketch built from ``df``.

    Output: ``(key, est)`` where ``est = min over rows of cell count`` —
    the classic CMS upper bound (est ≥ true count, property-tested).
    The cells table is depth×width rows → broadcast to the key side.
    """
    cells = count_min_cells(df, key_col, depth, width)
    key = F.col(key_col).cast("string")
    lookups = (
        df.select(key.alias("key"))
        .distinct()
        .select(
            "key",
            F.explode(_cms_cells_for(F.col("key"), depth, width)).alias("rc"),
        )
        .select("key", "rc.r_idx", "rc.c_idx")
    )
    return (
        lookups.join(F.broadcast(cells), ["r_idx", "c_idx"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est"))
    )


BLOOM_BITS = 1024
BLOOM_HASHES = 3


def _bloom_positions(key: F.Column, m: int, k: int) -> F.Column:
    """array<bigint> — the key's ``k`` bit positions in an ``m``-bit filter.

    pos_i = sha256("b{i}:" || key) folded to int, mod m — SHA-derived like
    every sketch here so the DuckDB oracle replays the exact bit layout.
    """
    return F.array(
        *[
            (
                hex_to_long(F.sha2(F.concat(F.lit(f"b{h}:"), key), 256)) % m
            ).alias(f"p{h}")
            for h in range(k)
        ]
    )


def bloom_bits(
    df: DataFrame, key_col: str, m: int = BLOOM_BITS, k: int = BLOOM_HASHES
) -> DataFrame:
    """Bloom filter of ``key_col``'s distinct values as a set-bit table.

    Output: ``(pos)`` — one row per set bit, ≤ m rows total. Merge two
    filters with ``union().distinct()`` (bit-OR); the representation is a
    position set rather than packed words so merge/probe are plain
    relational ops and the oracle replay needs no 64-bit shift arithmetic.
    Keys dedup FIRST (map-side combinable) so only |distinct keys| rows pay
    the ``k`` SHA-256 hashes — at 100 TB that's hashing the key universe
    once, and the filter itself stays ≤ m rows no matter the input size.
    """
    key = F.col(key_col).cast("string")
    return (
        df.select(key.alias("_k"))
        .distinct()
        .select(F.explode(_bloom_positions(F.col("_k"), m, k)).alias("pos"))
        .distinct()
    )


def bloom_contains(
    probes: DataFrame,
    key_col: str,
    bits: DataFrame,
    m: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Probe each key against a ``bloom_bits`` table.

    Output: probe keys + ``bloom_hit`` (true ⇔ all ``k`` bits set — may
    false-positive, never false-negative). The bits table is ≤ m rows →
    broadcast; the probe side explodes to k rows per key, left-joins the
    bits, and checks matched == k. No shuffle of the probe side beyond its
    own groupBy key — the classic use is pruning a 100 TB fact table
    against a dimension's filter before the real join.
    """
    key = F.col(key_col).cast("string")
    probed = (
        probes.select(key.alias("_k"))
        .distinct()
        .select("_k", F.explode(_bloom_positions(F.col("_k"), m, k)).alias("pos"))
        .join(F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left")
        .groupBy("_k")
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k).alias("bloom_hit"))
    )
    return probed.withColumnRenamed("_k", key_col)


def histogram_sketch(
    df: DataFrame, value_col: str, bucket_width: float
) -> DataFrame:
    """Equi-width histogram of a numeric column: ``(bucket, cnt)``.

    ``bucket = floor(value / width)``; merge = sum matching buckets.
    """
    b = F.floor(F.col(value_col).cast("double") / F.lit(bucket_width))
    return df.groupBy(b.cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    bucket_width: float,
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Quantile estimates off the histogram sketch: ``(p, est)``.

    est = bucket floor + linear interpolation of the rank within the
    bucket — deterministic arithmetic the DuckDB oracle replays exactly.
    The cumulative walk windows over the *histogram* (O(buckets) rows, one
    partition — fine, it's a sketch, not the data); the only full-data
    passes are the bucket groupBy and a count, both map-side combinable.
    """
    hist = histogram_sketch(df, value_col, bucket_width)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    total = df.agg(F.count(F.lit(1)).alias("n"))
    ps = (
        df.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(p) for p in percentiles])).alias("p")
        )
    )
    need = F.col("p") * F.col("n")
    return (
        ps.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(cum),
            (F.col("prev") < need) & (F.col("cum") >= need),
        )
        .select(
            "p",
            (
                F.col("bucket") * F.lit(bucket_width)
                + (need - F.col("prev"))
                / F.col("cnt")
                * F.lit(bucket_width)
            ).alias("est"),
        )
    )


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    k: int = 256,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic uniform row sample: the ``k`` rows whose
    sha256(id) hashes are globally smallest.

    The hash of a unique row id is a deterministic uniform rank, so
    bottom-k-by-hash IS a uniform random sample — and a MERGEABLE one:
    bottom-k of a union = bottom-k of each part's bottom-k, which is
    how a 100 TB scan reduces it (per-partition TakeOrdered k, then k·P
    rows to one reducer — never a global sort). Replayable by any
    engine with the same sha arithmetic, so sample-derived statistics
    hash-compare exactly, unlike rand()-based sampling.
    """
    h = hex_to_long(F.sha2(F.col(id_col).cast("string"), 256))
    return (
        df.select(id_col, *keep_cols, h.alias("_h"))
        .orderBy("_h")
        .limit(k)
    )


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    id_col: str,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact order statistics OF THE SAMPLE: for each p, the value at
    1-indexed rank ceil(p·k) under the (value, id) total order.

    No interpolation — rank selection is pure integer arithmetic, so
    a SQL oracle replays it bit-for-bit. With a bottom-k uniform
    sample of k rows, the sampled p-quantile estimates the population
    quantile with error O(1/sqrt(k)) (standard order-statistic bound);
    the estimate is rank-based, so it needs no value-range knowledge —
    the complement of the equi-width histogram sketch.
    """
    # pin the k-row sample: count + ranking + one filter per percentile
    # all reference it, and without the pin each reference re-executes
    # the full upstream corpus scan (PLANS.md caught 3 scans)
    sample = pin(sample)
    w = Window.orderBy(F.col(value_col), F.col(id_col))
    n = sample.count()  # k, a bounded constant by construction
    ranked = sample.select(
        value_col, F.row_number().over(w).alias("_rn")
    )
    targets = [(p, math.ceil(p * n)) for p in percentiles]
    picks = None
    for p, r in targets:
        one = ranked.filter(F.col("_rn") == r).select(
            F.lit(p).alias("p"), F.col(value_col).alias("q_value")
        )
        picks = one if picks is None else picks.unionAll(one)
    return picks


def cms_join_size_estimate(
    cells_a: DataFrame, cells_b: DataFrame, depth: int = CMS_DEPTH
) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches:
    |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated as the MIN over sketch rows
    of the cell-wise inner product Σ_c a_rc·b_rc (AMS/CMS inner
    product — each row over-estimates by hash collisions, never
    under-estimates, so the min is the tightest bound).

    This is the optimizer's question — "how big is this join?" —
    answered from two mergeable, constant-size summaries WITHOUT
    touching either table again: the sketches may have been built
    stream-side (``make_cms_writer``) or at ingest. Exact integer
    arithmetic end to end, so a SQL oracle replays it bit-for-bit.

    Output: 1 row — (est_join_size,).
    """
    a = cells_a.select(
        F.col("r_idx"), F.col("c_idx"), F.col("cnt").alias("_a")
    )
    b = cells_b.select(
        F.col("r_idx"), F.col("c_idx"), F.col("cnt").alias("_b")
    )
    return (
        a.join(b, ["r_idx", "c_idx"])
        .groupBy("r_idx")
        .agg(F.sum(F.col("_a") * F.col("_b")).alias("_dot"))
        .agg(F.min("_dot").alias("est_join_size"))
    )


def grouped_histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    percentiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Per-group quantile estimates off per-group histogram sketches —
    the p50/p95-latency-per-service query, sketch-sized.

    One pass builds (group, bucket, cnt) cells (map-side combinable;
    sketch size = groups × occupied buckets, independent of row count),
    the cumulative walk windows per GROUP over the histogram (O(buckets)
    rows per partition — it sorts the sketch, not the data), and each
    requested percentile interpolates inside its straddling bucket with
    the same deterministic arithmetic as the global
    ``histogram_quantiles``, so a SQL oracle replays it exactly.

    Output: (group, p, est).
    """
    g = F.col(group_col)
    b = F.floor(F.col(value_col).cast("double") / F.lit(bucket_width))
    hist = df.groupBy(g.alias("grp"), b.cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    totals = df.groupBy(g.alias("grp")).agg(F.count(F.lit(1)).alias("n"))
    ps = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in percentiles])).alias("p")
    )
    t = totals.crossJoin(F.broadcast(ps))
    need = t["p"] * t["n"]
    return (
        t.join(
            cum,
            (t["grp"] == cum["grp"])
            & (cum["prev"] < need)
            & (cum["cum"] >= need),
        )
        .select(
            t["grp"].alias(group_col),
            t["p"].alias("p"),
            (
                cum["bucket"] * F.lit(bucket_width)
                + (need - cum["prev"]) / cum["cnt"] * F.lit(bucket_width)
            ).alias("est"),
        )
    )
