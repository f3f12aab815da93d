"""Streaming corpus ingestion with exactly-once exact dedup.

The streaming face of ``operators/dedup.incremental_exact_dedup``: a
document stream (crawl drops, re-deliveries included) folds into a
deduped corpus plus a persistent fingerprint index, crash/replay-safe.

Durability rides the MVCC-by-epoch pattern from
``rollup_stream.make_incremental_writer``: the index state (one
``content_sha`` per ever-ingested document — union-mergeable, the
simplest possible algebra) is versioned per epoch, and the kept
documents are written to an epoch-keyed output directory with
overwrite. An epoch replay reads the index version OLDER than itself,
recomputes the identical anti-join, and overwrites both artifacts —
never double-ingesting. The corpus is the union of all epoch outputs.

100 TB: the index is one 32-byte hash per corpus document — billions of
rows but kilobyte-wide, and sha-uniform so it buckets/partitions evenly.
This maintainer rewrites the index per epoch, which is right for
dimension-scale corpora; past that, swap the state write for an
append-only hash log + periodic compaction, keeping the same
epoch-versioned commit protocol (the anti-join semantics don't change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from commerce_sessionization_spark.operators.dedup import (
    incremental_exact_dedup,
)
from commerce_sessionization_spark.streaming.rollup_stream import (
    _commit_state,
    read_rollup_state,
)


def read_corpus(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The deduped corpus: union of all committed epoch outputs."""
    try:
        return spark.read.parquet(f"{out_path}/docs")
    except Exception:
        return None


def make_dedup_ingest_writer(
    spark: SparkSession,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_versions: int = 3,
):
    """Idempotent ``foreachBatch`` fn: batch → kept docs + index update.

    Write order is docs-then-index: a crash between the two leaves a
    committed epoch output whose replay recomputes the same rows (the
    replay reads the index version *before* this epoch), so the corpus
    never gains duplicates — the same argument as the rollup maintainer,
    plus determinism of the anti-join given (batch, prior index).
    """
    def write(batch_df: DataFrame, epoch_id: int) -> None:
        prev = read_rollup_state(spark, out_path, before=epoch_id)
        if prev is None:
            prev = spark.createDataFrame([], "content_sha string")
        kept = incremental_exact_dedup(
            batch_df, prev, id_col=id_col, text_col=text_col
        )
        kept.write.mode("overwrite").parquet(
            f"{out_path}/docs/epoch={epoch_id}"
        )
        # the epoch output is itself the delta of new fingerprints
        new_state = prev.unionByName(
            spark.read.parquet(f"{out_path}/docs/epoch={epoch_id}").select(
                "content_sha"
            )
        ).distinct()
        _commit_state(spark, out_path, new_state, epoch_id, keep_versions)

    return write


def make_neardup_ingest_writer(
    spark: SparkSession,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    keep_versions: int = 3,
):
    """Idempotent ``foreachBatch`` fn: near-dup-aware corpus ingestion.

    The exact-dedup writer's twin with the LSH band index as state: per
    epoch, ``incremental_neardup_dedup`` drops batch docs that collide
    with the corpus index or a smaller-id batch doc, the kept docs land
    epoch-keyed, and the index gains their ``lsh_band_table`` rows.
    Same crash/replay argument as ``make_dedup_ingest_writer`` (the
    replay reads the index version *before* its epoch and recomputes
    the identical anti-join). State is ``bands`` fixed-width rows per
    kept doc; the kept corpus never contains an LSH candidate pair
    (the operator invariant, pinned in tests/test_ingest_dedup.py).
    """
    from commerce_sessionization_spark.operators.dedup import (
        incremental_neardup_dedup,
        lsh_band_table,
    )

    lsh_kw = dict(
        id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands,
    )

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        prev = read_rollup_state(spark, out_path, before=epoch_id)
        if prev is None:
            # epoch-0 empty state: derive the id column's type from the
            # batch itself (a string doc-id stream would otherwise union
            # bigint with string and fail under ANSI mode)
            prev = lsh_band_table(batch_df.limit(0), **lsh_kw)
        kept = incremental_neardup_dedup(batch_df, prev, **lsh_kw)
        kept.write.mode("overwrite").parquet(
            f"{out_path}/docs/epoch={epoch_id}"
        )
        new_state = prev.unionByName(
            lsh_band_table(
                spark.read.parquet(f"{out_path}/docs/epoch={epoch_id}"),
                **lsh_kw,
            )
        ).distinct()
        _commit_state(spark, out_path, new_state, epoch_id, keep_versions)

    return write


def stream_dedup_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Wire a streaming document frame into the dedup-ingest writer."""
    spark = docs_stream.sparkSession
    return (
        docs_stream.writeStream.foreachBatch(
            make_dedup_ingest_writer(
                spark, out_path, id_col=id_col, text_col=text_col
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
