"""Streaming incremental state maintenance: fold each micro-batch into a
persistent mergeable state table, exactly-once.

Works for ANY state with an associative+commutative merge — time-bucket
rollups, count-min cells, bloom bit sets, HLL registers: supply
``partial_fn`` (batch → state rows) and ``merge_fn`` (state ∪ state →
state) and the maintainer handles durability. The batch operators supply
the algebra (e.g. ``operators.rollup``'s exact decimal merge law); this
module makes it durable under crash/replay.

Idempotency is MVCC-by-epoch, not in-place mutation: epoch ``e`` writes a
complete new state version ``{out}/rollup_state/v=e`` computed from the
latest version *older than e* plus the batch — so replaying an epoch
(foreachBatch re-delivery after a checkpoint-commit crash) recomputes the
SAME version from the SAME inputs and overwrites it, instead of
double-counting into a shared table. A version is live only once its
``_SUCCESS`` marker exists (parquet commit protocol); readers resolve
``max(version with _SUCCESS)``. State size is O(state rows) — buckets,
sketch cells — so rewriting a full version per epoch is metadata-cheap;
the events themselves are never re-read.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from commerce_sessionization_spark.operators.rollup import (
    merge_rollups,
    time_bucket_rollup,
)
from commerce_sessionization_spark.session import pin
from commerce_sessionization_spark.streaming.pipeline import _fs_and_path, _glob

_VERSION_RE = re.compile(r"/v=(\d+)$")


def _live_versions(spark: SparkSession, state_root: str) -> list[int]:
    fs, jvm = _fs_and_path(spark, state_root)
    out = []
    for st in _glob(fs, jvm, f"{state_root}/v=*/_SUCCESS"):
        m = _VERSION_RE.search(str(st.getPath().getParent().toString()))
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_rollup_state(
    spark: SparkSession, out_path: str, before: int | None = None
) -> DataFrame | None:
    """Latest committed state version (optionally: latest OLDER than
    ``before``, which is what an epoch replay must read). None if empty."""
    state_root = f"{out_path}/rollup_state"
    versions = _live_versions(spark, state_root)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    return spark.read.parquet(f"{state_root}/v={versions[-1]}")


def _commit_state(
    spark: SparkSession,
    out_path: str,
    state: DataFrame,
    epoch_id: int,
    keep_versions: int,
) -> None:
    """Write ``state`` as version ``v=epoch_id``, then prune the committed
    versions beyond the newest ``keep_versions`` (never ``epoch_id``).

    Overwrite makes a replayed epoch rewrite the same version; pruning
    runs AFTER the commit, so a crash mid-prune leaves extra versions,
    never missing ones.
    """
    state_root = f"{out_path}/rollup_state"
    state.write.mode("overwrite").parquet(f"{state_root}/v={epoch_id}")
    live = _live_versions(spark, state_root)
    fs, jvm = _fs_and_path(spark, state_root)
    for v in live[:-keep_versions] if keep_versions else []:
        if v != epoch_id:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{state_root}/v={v}"), True)


def make_incremental_writer(
    spark: SparkSession,
    out_path: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    keep_versions: int = 3,
):
    """Build an idempotent ``foreachBatch`` fn for any mergeable state.

    Public so tests can drive epochs directly and assert replay safety.
    Old committed versions beyond ``keep_versions`` are pruned after the
    new version commits (``_commit_state``) — a replay of the newest
    epoch always finds its predecessor as long as ``keep_versions >= 2``.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        partial = partial_fn(batch_df)
        prev = read_rollup_state(spark, out_path, before=epoch_id)
        merged = partial if prev is None else merge_fn(prev, partial)
        _commit_state(spark, out_path, merged, epoch_id, keep_versions)

    return write


def make_rollup_writer(
    spark: SparkSession,
    out_path: str,
    keys: Sequence[str] = ("event_type",),
    bucket: str = "hour",
    keep_versions: int = 3,
):
    """Incremental time-bucket rollup (continuous aggregate)."""
    return make_incremental_writer(
        spark,
        out_path,
        lambda df: time_bucket_rollup(df, keys=tuple(keys), bucket=bucket),
        lambda a, b: merge_rollups(a, b, keys=tuple(keys)),
        keep_versions=keep_versions,
    )


def make_cms_writer(
    spark: SparkSession,
    out_path: str,
    key_col: str,
    keep_versions: int = 3,
):
    """Incremental count-min sketch over a streaming key column — the
    sketch algebra (cell-wise sum) rides the same MVCC maintainer, so a
    streaming heavy-hitter table needs no second durability mechanism."""
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.sketches import count_min_cells

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("r_idx", "c_idx")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return make_incremental_writer(
        spark,
        out_path,
        lambda df: count_min_cells(df, key_col),
        merge,
        keep_versions=keep_versions,
    )


def make_ohlc_writer(
    spark: SparkSession,
    out_path: str,
    series_col: str = "event_type",
    bucket_seconds: int = 86400,
    keep_versions: int = 3,
):
    """Incremental OHLC candle maintenance: open/close ride as min/max of
    a (ts, tiebreak, value) struct — associative+commutative like the
    rest of the candle state, so the same MVCC maintainer gives
    exactly-once streaming candles (`operators.timeseries.ohlc_partial`
    supplies the algebra; finalize with ``candles_from_state``)."""
    from commerce_sessionization_spark.operators.timeseries import (
        merge_ohlc,
        ohlc_partial,
    )

    return make_incremental_writer(
        spark,
        out_path,
        lambda df: ohlc_partial(
            df, series_col, bucket_seconds=bucket_seconds
        ),
        lambda a, b: merge_ohlc(a, b, series_col),
        keep_versions=keep_versions,
    )


def rollup_stream(
    events: DataFrame,
    spark: SparkSession,
    out_path: str,
    checkpoint: str,
    keys: Sequence[str] = ("event_type",),
    bucket: str = "hour",
):
    """Wire a streaming events frame into the rollup maintainer."""
    return (
        events.writeStream.foreachBatch(make_rollup_writer(spark, out_path, keys, bucket))
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def make_bottomk_writer(
    spark: SparkSession,
    out_path: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
    k: int = 256,
    keep_versions: int = 3,
):
    """Incremental bottom-k-by-hash uniform sample over a stream.

    The sample algebra is mergeable (bottom-k of a union == bottom-k of
    the parts' bottom-ks), so a statistically-valid uniform sample of
    EVERYTHING EVER SEEN rides the same MVCC epoch maintainer as the
    rollups and the CMS — per epoch: bottom-k the micro-batch, merge
    with the previous version, keep k rows. Epoch replay rewrites the
    identical version (the sample is a deterministic function of the
    id set), so exactly-once needs no dedup pass. Any downstream
    statistic (e.g. ``sketches.sample_quantiles``) reads the newest
    version — streaming quantiles with no per-value state.
    """
    from commerce_sessionization_spark.operators.sketches import bottomk_sample

    def partial(df: DataFrame) -> DataFrame:
        return bottomk_sample(df, id_col, k=k, keep_cols=keep_cols)

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        # parts already carry _h; re-rank the union and keep k smallest
        from pyspark.sql import functions as F

        return a.unionByName(b).orderBy(F.col("_h")).limit(k)

    return make_incremental_writer(spark, out_path, partial, merge,
                                   keep_versions=keep_versions)


def make_dsir_writer(
    spark: SparkSession,
    out_path: str,
    target_col: str = "lang",
    target_value: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    keep_versions: int = 3,
):
    """Incremental DSIR corpus statistics over a document stream.

    DSIR's only corpus-level state is two ``n_buckets``-long gram-count
    vectors (raw corpus ``cr``, target subcorpus ``ct``) — a mergeable
    map-side-combinable aggregate, so it rides the same MVCC epoch
    maintainer as the rollups: per epoch, bucket-count the micro-batch's
    bigrams and fold into the previous version by per-bucket addition.
    Epoch replay rewrites the identical version (counts are a
    deterministic function of the input rows), so the statistics are
    exactly-once without any dedup.

    Importance weights then refresh as a crawl lands: read the newest
    state with ``read_rollup_state``, turn it into the log-ratio table
    with ``operators.sampling.dsir_log_ratios``, and score any corpus
    with ``dsir_score`` — pinned equal to the batch ``dsir_weights``
    over the same rows by tests/test_rollup.py.
    """
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.sampling import gram_buckets

    def partial(df: DataFrame) -> DataFrame:
        gb = gram_buckets(
            df,
            text_col,
            id_col,
            n_buckets,
            extra_cols=(
                (F.col(target_col) == F.lit(target_value)).alias("_tgt"),
            ),
        )
        return gb.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("ct"),
        )

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return (
            a.unionByName(b)
            .groupBy("bucket")
            .agg(F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))
        )

    return make_incremental_writer(spark, out_path, partial, merge,
                                   keep_versions=keep_versions)


def make_checksum_writer(
    spark: SparkSession,
    out_path: str,
    cols: list[str],
    keep_versions: int = 3,
):
    """Continuously maintained table checksum over an append stream.

    The fingerprint (row count + sum of per-row SHA hashes mod 2^60 —
    the ``table_checksums`` algebra) is commutative and associative, so
    it rides the MVCC epoch maintainer: per epoch, checksum the
    micro-batch and fold into the previous version with modular
    addition. Epoch replay rewrites the identical version, so the
    running fingerprint is exactly-once without any dedup — continuous
    integrity verification of everything ever ingested, readable any
    time with ``read_rollup_state``.
    """
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.functions.hashing import hex_to_long

    mod = 2 ** 60

    def partial(df: DataFrame) -> DataFrame:
        preimage = F.concat_ws(
            "\x01",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
        )
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(
                F.sum(hex_to_long(F.sha2(preimage, 256)).cast("decimal(38,0)")),
                F.lit(mod).cast("decimal(38,0)"),
            ).cast("long").alias("checksum"),
        )

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return a.unionByName(b).agg(
            F.sum("n_rows").alias("n_rows"),
            F.pmod(
                F.sum(F.col("checksum").cast("decimal(38,0)")),
                F.lit(mod).cast("decimal(38,0)"),
            ).cast("long").alias("checksum"),
        )

    return make_incremental_writer(spark, out_path, partial, merge,
                                   keep_versions=keep_versions)


def make_vector_stats_writer(
    spark: SparkSession,
    out_path: str,
    vec_col: str = "embedding",
    dim: int = 64,
    keep_versions: int = 3,
):
    """Incremental PCA/covariance sufficient statistics over a vector
    stream.

    The one-pass PCA state (``operators.ml.vector_sufficient_stats``:
    n + Σxᵢ + upper-triangle Σxᵢxⱼ on the integer grid, d(d+3)/2+1
    exact-decimal rows) is associative+commutative under per-cell
    addition, so it rides the same MVCC epoch maintainer as the
    rollups/CMS/DSIR states: per epoch, reduce the micro-batch to its
    stats rows and fold into the previous version by summing ``s`` per
    (i, j). Epoch replay rewrites the identical version — decimal sums
    are order-independent, so the maintained state is BIT-equal to the
    batch stats over all rows ever seen (the pure-function law the
    value-graded catalog query asserts). Refit PCA any time:
    ``covariance_from_stats(read_rollup_state(...))`` + the driver-side
    eigensolve — streaming model refresh with no event re-read.
    """
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.ml import (
        vector_sufficient_stats,
    )

    def partial(df: DataFrame) -> DataFrame:
        return vector_sufficient_stats(df, vec_col, dim=dim)

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("i", "j")
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
        )

    return make_incremental_writer(
        spark, out_path, partial, merge, keep_versions=keep_versions
    )


def make_drift_writer(
    spark: SparkSession,
    out_path: str,
    bounds: DataFrame,
    cols,
    buckets: int = 10,
    keep_versions: int = 3,
):
    """Streaming drift monitor: maintain the CURRENT side's PSI bucket
    counts against a frozen reference.

    ``bounds`` is ``operators.dq.drift_bounds`` over the reference
    snapshot — the bin edges never move, so the per-micro-batch bucket
    counts (plain integers per (column, bin)) are associative+
    commutative and ride the MVCC epoch maintainer unchanged. Read the
    newest state and finalize with ``psi_from_counts(ref_counts,
    state)`` whenever the gate runs: streaming drift detection with
    O(columns × bins) state and zero event re-reads — the maintained
    counts are EXACTLY the batch counts over all rows ever seen (the
    value-graded law)."""
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.dq import (
        drift_bucket_counts,
    )

    bounds = pin(bounds)  # freeze: epochs must not recompute

    def partial(df: DataFrame) -> DataFrame:
        return drift_bucket_counts(df, bounds, cols, buckets)

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("_col", "_b")
            .agg(F.sum("n").alias("n"))
        )

    return make_incremental_writer(
        spark, out_path, partial, merge, keep_versions=keep_versions
    )


def make_centroid_stats_writer(
    spark: SparkSession,
    out_path: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_versions: int = 3,
    quantize_scale: int = 9,
):
    """Streaming k-means/IVF index maintenance: per-centroid sufficient
    statistics (n, Σx per dimension) over a vector stream, assigned to
    a FIXED coarse quantizer.

    This closes the training loop ``stream_vector_stats`` opened: that
    maintainer keeps global PCA stats; this one keeps the per-cell
    stats a coarse quantizer refit needs. The E-step (nearest-centroid
    assignment by cosine against the pinned ``centroids``) runs per
    micro-batch in codegen; the M-step is free at any time —
    ``centroids_from_stats(read_rollup_state(...))`` emits refreshed
    centroids with NO corpus re-read. Holding the assignment centroids
    fixed is what makes the maintained state a pure function of the
    rows ever seen (streamed Lloyd HALF-iterations with an evolving
    E-step would make state order-dependent and unreplayable): the
    result after any epochs equals one batch Lloyd M-step over the full
    corpus — the law the value-graded catalog query asserts against the
    DuckDB replay.

    State size: nlist × d cells regardless of corpus size. Sums are
    exact decimal on the floor(x·10^scale) grid (same recipe as
    ``label_centroids`` / ``vector_sufficient_stats``), so epoch folds
    are order-independent and crash replays rewrite identical bytes.
    The state is SELF-DESCRIBING: every cell carries its ``qscale``, so
    ``centroids_from_stats`` derives the grid from the state instead of
    trusting the caller to repeat the writer's knob (the pca_fit
    grid-coupling defect class, ADVICE r8) — folds of mismatched
    scales stay as separate visible rows rather than silently summing.
    """
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.similarity import (
        ivf_assign,
    )

    grid = F.lit(float(10 ** quantize_scale))
    pinned = pin(centroids)

    def partial(df: DataFrame) -> DataFrame:
        assigned = ivf_assign(df, pinned, id_col=id_col, vec_col=vec_col)
        vq = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * grid).cast("decimal(19,0)"),
        )
        return (
            assigned.select(
                "centroid_id", F.posexplode(vq).alias("_i", "_x")
            )
            .groupBy(
                "centroid_id",
                (F.col("_i") + 1).alias("i"),
                F.lit(quantize_scale).cast("int").alias("qscale"),
            )
            .agg(
                F.sum("_x").cast("decimal(38,0)").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("centroid_id", "i", "qscale")
            .agg(
                F.sum("s").cast("decimal(38,0)").alias("s"),
                F.sum("n").cast("long").alias("n"),
            )
        )

    return make_incremental_writer(
        spark, out_path, partial, merge, keep_versions=keep_versions
    )


def centroids_from_stats(
    state: DataFrame,
    vec_col: str = "embedding",
    quantize_scale: int | None = None,
) -> DataFrame:
    """The M-step from maintained per-centroid stats: mean per (cell,
    dimension) = s/n/grid (decimal cast to double FIRST, like
    ``covariance_from_stats``, so both engines divide identical
    operands). Returns ``(centroid_id, {vec_col})`` compatible with
    ``ivf_assign`` / ``ivf_search`` — drop-in refreshed quantizer.

    The grid comes from the state's own ``qscale`` column (the writer
    stamps it on every cell); a state holding MIXED scales is refused
    loudly. ``quantize_scale`` is only consulted for legacy states
    without the column."""
    from pyspark.sql import functions as F

    if "qscale" in state.columns:
        scales = [r.qscale for r in state.select("qscale").distinct().collect()]
        if len(scales) > 1:
            raise ValueError(
                f"state holds cells on mixed quantize grids {sorted(scales)} "
                "— refusing to average across scales"
            )
        quantize_scale = scales[0] if scales else (quantize_scale or 9)
    elif quantize_scale is None:
        quantize_scale = 9
    grid = float(10 ** quantize_scale)
    return (
        state.select(
            "centroid_id",
            "i",
            (
                F.col("s").cast("double")
                / F.col("n").cast("double")
                / F.lit(grid)
            ).alias("_m"),
        )
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "_m"))),
                lambda x: x["_m"],
            ).alias(vec_col)
        )
    )
