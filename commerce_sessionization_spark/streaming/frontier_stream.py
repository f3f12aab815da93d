"""Continuous crawl: maintain the frontier as streaming state.

The batch loop (tests/test_crawl_loop.py) recomputes the frontier from
scratch each round. A continuous crawler instead FOLDS each micro-batch
of newly-fetched pages into persistent state and serves the next fetch
batch from it. The state is two union-mergeable sets — the web-graph
edges discovered so far and the URLs fetched so far — so it rides the
same MVCC-by-epoch maintainer as the rollups (``rollup_stream``):
epoch ``e`` writes state version ``v=e`` computed from the latest
version older than ``e`` plus the batch, and a replayed epoch rewrites
the identical version instead of double-counting.

The frontier itself is a PURE FUNCTION of the state
(``operators.crawl.crawl_frontier``), so the epoch-``e`` frontier over
incrementally-folded state equals the batch frontier over all pages
ever fetched — the merge law the catalog query
``stream_crawl_frontier`` grades by value against the batch oracle.

100 TB shape: state rows are (kind, src, dst) triples — the edge set is
the crawl's web graph (bucket by dst at scale, cf. the band index), the
fetched set one row per page. The per-epoch frontier recompute is the
audited ``crawl_frontier`` plan (map-side WindowGroupLimit politeness
cap); for corpora where a full recompute per epoch is too hot, cut the
candidate side down to hosts touched by the batch — the state layout
already supports it (the anti-join and scoring are per-host
decomposable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commerce_sessionization_spark.session import pin
from commerce_sessionization_spark.streaming.rollup_stream import (
    _commit_state,
    read_rollup_state,
)


def make_frontier_writer(
    spark: SparkSession,
    out_path: str,
    html_col: str = "html",
    url_col: str = "url",
    per_host_k: int = 100,
    keep_versions: int = 3,
):
    """Idempotent ``foreachBatch`` fn: pages → state update + frontier.

    Per epoch: extract the batch pages' outlinks, union edges and
    fetched URLs into the previous state version, write
    ``{out}/frontier/epoch=e`` — the next fetch batch given everything
    fetched through this epoch — then commit state ``v=e``. A replayed
    epoch reads only versions OLDER than itself (MVCC), so whatever a
    crash left half-written is recomputed from the same inputs and
    overwritten: both artifacts are idempotent under re-delivery, the
    ``make_dedup_ingest_writer`` argument verbatim.
    """
    from commerce_sessionization_spark.operators.crawl import (
        crawl_frontier,
        extract_links,
    )

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        prev = read_rollup_state(spark, out_path, before=epoch_id)
        links = extract_links(batch_df, html_col, url_col).select(
            F.lit("edge").alias("kind"), "src", "dst"
        )
        fetched = batch_df.select(
            F.lit("fetched").alias("kind"),
            F.col(url_col).alias("src"),
            F.lit(None).cast("string").alias("dst"),
        )
        state = links.unionByName(fetched)
        if prev is not None:
            state = prev.unionByName(state)
        state = pin(state.distinct())
        frontier = crawl_frontier(
            state.filter(F.col("kind") == "edge").select("src", "dst"),
            state.filter(F.col("kind") == "fetched").select(
                F.col("src").alias("url")
            ),
            per_host_k=per_host_k,
        )
        frontier.write.mode("overwrite").parquet(
            f"{out_path}/frontier/epoch={epoch_id}"
        )
        _commit_state(spark, out_path, state, epoch_id, keep_versions)

    return write


def read_frontier(
    spark: SparkSession, out_path: str, epoch_id: int
) -> DataFrame:
    """The fetch batch emitted at ``epoch_id``."""
    return spark.read.parquet(f"{out_path}/frontier/epoch={epoch_id}")


def stream_crawl_frontier(
    pages_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    per_host_k: int = 100,
):
    """Wire a streaming (url, html) page frame into the maintainer."""
    spark = pages_stream.sparkSession
    return (
        pages_stream.writeStream.foreachBatch(
            make_frontier_writer(spark, out_path, per_host_k=per_host_k)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
