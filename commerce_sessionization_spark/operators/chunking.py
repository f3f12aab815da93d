"""Document chunking and sequence packing — training-data preparation.

LLM pipelines cut long documents into overlapping token windows
(context-length chunks) and then pack variable-length pieces into
fixed-budget training sequences. Both are implemented Spark-first:

- ``chunk_documents`` is a pure narrow transformation — ``split`` /
  ``sequence`` / ``explode`` / ``slice`` / ``array_join`` built-ins, all
  inside whole-stage codegen, ZERO shuffles. At 100 TB the chunker is
  embarrassingly parallel: each input split produces its chunks in place
  and the output is written partition-local.

- ``pack_sequences`` (next-fit bin packing) is inherently sequential —
  each bin boundary depends on the previous one (a running-reset sum,
  the same dependency class as ``sessions.sessionize_capped``) — so it
  cannot be a fixed-frame window. The scale move is to shard the
  sequential part: documents are assigned to ``n_buckets`` deterministic
  hash buckets and packing runs *within* each bucket as an Arrow-batched
  ``applyInPandas`` (one shuffle on the bucket key; per-task state is
  one bucket's id+length list, not its texts). Packing quality is
  unaffected by sharding — next-fit wastes at most one budget per bin
  regardless of item order — while throughput scales with ``n_buckets``.
  Bucket count is a knob: at 100 TB pick buckets ≫ cores so AQE can
  balance; bin ids are (bucket, bin_idx) pairs, globally unique without
  any cross-bucket coordination.

The chunk layout contract (window W, stride S over whitespace tokens):
chunk ``i`` covers tokens ``[i·S, min(i·S + W, n))`` (0-based), and the
number of chunks is ``1 + ceil(max(0, n − W) / S)`` — every token is
covered, consecutive chunks overlap by ``W − S`` tokens, and the final
chunk may be short. Both engines replay this arithmetic exactly
(integer-only), so the DuckDB oracle hash-matches the full chunk text.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from commerce_sessionization_spark.functions.hashing import hex_to_long

DEFAULT_WINDOW = 32
DEFAULT_STRIDE = 24


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_WINDOW,
    stride: int = DEFAULT_STRIDE,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding token-window chunking (narrow, shuffle-free).

    Output grain: one row per (document, chunk) with the chunk's 0-based
    ``chunk_id``, its token offset, its token count, and the re-joined
    ``chunk_text``. Tokens are whitespace-split — swap ``text_col`` for a
    pre-tokenized array column to chunk real tokenizer output; the
    windowing arithmetic is identical.
    """
    if not (0 < stride <= window):
        raise ValueError("need 0 < stride <= window")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # 1 + ceil(max(0, n-W)/S) in pure integer arithmetic
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        (F.floor((n - window + stride - 1) / F.lit(stride)) + 1).cast("int")
    )
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i"),
    )
    start0 = F.col("_i") * stride  # 0-based
    ctoks = F.slice(F.col("_toks"), start0 + 1, F.lit(window))
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col("_i").cast("long").alias("chunk_id"),
        start0.cast("long").alias("token_start"),
        F.size(ctoks).cast("long").alias("chunk_tokens"),
        F.array_join(ctoks, " ").alias("chunk_text"),
    )


def _pack_buckets(
    df: DataFrame,
    budget: int,
    id_col: str,
    len_col: str,
    n_buckets: int,
    seed: str,
    walk: Callable[[pd.DataFrame], tuple[pd.DataFrame, list, list]],
) -> DataFrame:
    """The bucketed packers' shared frame: items hash into ``n_buckets``
    sha256 buckets, one ``applyInPandas`` per bucket runs ``walk`` over the
    bucket's (_id, _len, bucket) rows, which returns them in placement
    order (index reset) with each item's bin_idx and bin_offset.

    Output: (id, bucket, bin_idx, bin_offset, item_tokens).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    bucket = (
        hex_to_long(
            F.sha2(
                F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")), 256
            )
        )
        % n_buckets
    ).cast("long")
    slim = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(len_col).cast("long").alias("_len"),
        bucket.alias("bucket"),
    )
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("bucket", LongType()),
            StructField("bin_idx", LongType()),
            StructField("bin_offset", LongType()),
            StructField("item_tokens", LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, bins, offs = walk(pdf)
        return pd.DataFrame(
            {
                id_col: pdf["_id"],
                "bucket": pdf["bucket"],
                "bin_idx": bins,
                "bin_offset": offs,
                "item_tokens": pdf["_len"],
            }
        )

    return slim.groupBy("bucket").applyInPandas(pack, schema=out_schema)


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
    n_buckets: int = 8,
    seed: str = "pack",
) -> DataFrame:
    """Next-fit sequence packing into fixed token ``budget`` bins.

    Items are sharded into ``n_buckets`` deterministic sha256 hash
    buckets; within a bucket, items are walked in ``id_col`` order and a
    running token sum assigns each item an offset in the current bin,
    opening a new bin whenever the item would overflow the budget.
    Items longer than the budget get a bin of their own (callers chunk
    first — see ``chunk_documents`` — so this is the oversize escape
    hatch, not the normal path).

    Output: (id, bucket, bin_idx, bin_offset, item_tokens). A training
    job groups on (bucket, bin_idx) to materialize packed sequences;
    sum(item_tokens) per bin ≤ budget holds by construction (asserted in
    tests/test_chunking.py).

    The per-bucket walk is the documented sequential core (next-fit is a
    running-reset sum, not window-expressible); everything around it is
    one hash-partition shuffle. The DuckDB oracle replays the identical
    walk with a recursive CTE, making even the imperative path
    hash-checked, not just row-counted.
    """

    def walk(pdf: pd.DataFrame) -> tuple[pd.DataFrame, list, list]:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        bins, offs = [], []
        bin_idx, fill = 0, 0
        first = True
        for ln in pdf["_len"]:
            if not first and fill + ln > budget:
                bin_idx += 1
                fill = 0
            first = False
            offs.append(fill)
            bins.append(bin_idx)
            fill += ln
        return pdf, bins, offs

    return _pack_buckets(df, budget, id_col, len_col, n_buckets, seed, walk)


#: Sentence segmentation without lookbehind (RE2-replayable): a run of
#: non-terminators ending in one-or-more terminators plus a boundary, or
#: a trailing unterminated run. Leftmost behavior is identical in Java
#: and RE2 for this pattern (no alternation-preference divergence: at
#: any start position at most one alternative can match).
SENTENCE_PATTERN = r"[^.!?]*[.!?]+(\s|$)|[^.!?]+$"


def chunk_by_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 200,
) -> DataFrame:
    """Sentence-preserving chunking: offset-bucketed, not greedy-packed.

    RAG and long-context pipelines want chunk boundaries on sentence
    ends, not mid-token. TRUE greedy packing ("add sentences until full")
    is a sequential fold; this uses the distributed-friendly equivalent:
    a sentence belongs to chunk ``floor(start_offset / max_chars)`` where
    ``start_offset`` is the cumulative length of its predecessors. No
    sequential dependency — offsets are one window cumsum — chunks never
    split a sentence, and overshoot is bounded by one sentence length.

    One shuffle (per-document window + regroup on a uniform key); the
    segmentation regex is shared with the DuckDB oracle verbatim.
    Returns (id, chunk_id, chunk_text, n_sentences, chunk_chars).
    """
    from pyspark.sql import Window

    sents = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit(SENTENCE_PATTERN), F.lit(0)
                    ),
                    # NOT bare F.trim: transform would call it with
                    # (element, index) and trim(str, trimStr) would treat
                    # the index as the character set to strip
                    lambda s: F.trim(s),
                ),
                lambda s: F.length(s) > 0,
            )
        ).alias("ord", "sentence"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sents = sents.withColumn(
        "start_off",
        F.coalesce(F.sum(F.length("sentence") + 1).over(w), F.lit(0)),
    ).withColumn(
        "chunk_id", F.floor(F.col("start_off") / F.lit(max_chars))
    )
    return (
        sents.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ord", "sentence"))
                    ),
                    lambda x: x["sentence"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_sentences"),
        )
        .withColumn("chunk_chars", F.length("chunk_text").cast("bigint"))
    )


def pack_sequences_ffd(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
    budget: int = 512,
    n_buckets: int = 64,
    seed: str = "pack",
) -> DataFrame:
    """First-fit-decreasing sequence packing: ``pack_sequences``'
    next-fit walk trades packing density for a replayable oracle; this
    twin is the density-first variant a trainer runs when padding waste
    is the bill — FFD's worst case is 11/9·OPT + 6/9 (Dósa 2007) vs
    next-fit's 2·OPT, and on real length distributions the gap is the
    difference between ~6% and ~1% padding (receipt in SCALE.md).

    Within each hash bucket: items sort by (length desc, id), each
    item lands in the FIRST open bin with room, else opens a new bin.
    Oversize items (> budget) get a bin of their own (same escape
    hatch as next-fit). The per-bucket walk is the documented
    sequential core — FFD's state is the multiset of bin remainders,
    which no window or recursive-CTE replay expresses reasonably, so
    the catalog entry is rows-only with its laws pinned in
    tests/test_chunking.py (every id exactly once, per-bin sums ≤
    budget, offsets are placement-order prefix sums, waste ≤ the
    next-fit packing of the same rows, repartition-invariant).

    Output: (id, bucket, bin_idx, bin_offset, item_tokens) — same
    contract as ``pack_sequences``, drop-in for the training job's
    (bucket, bin_idx) group-by.
    """

    def walk(pdf: pd.DataFrame) -> tuple[pd.DataFrame, list, list]:
        pdf = pdf.sort_values(
            ["_len", "_id"], ascending=[False, True]
        ).reset_index(drop=True)
        # Lowest-index first fit in O(log B) per item (ADVICE r9: the
        # naive O(bins) scan made a skewed bucket O(n²)): a max-segment
        # tree over bin REMAINDERS; "first bin with fill+ln <= budget"
        # == left-first descent to the first leaf with remainder >= ln.
        # Placements are identical to the linear scan by construction.
        cap = 1  # leaf capacity, power of two; leaves at tree[cap+i]
        tree: list[int] = [0, 0]
        nbins = 0
        fills: list[int] = []  # current fill per bin, index = bin_idx
        bins, offs = [], []

        def _set_rem(pos: int, rem: int) -> None:
            i = cap + pos
            tree[i] = rem
            i //= 2
            while i:
                tree[i] = max(tree[2 * i], tree[2 * i + 1])
                i //= 2

        for ln in pdf["_len"]:
            ln = int(ln)
            placed = None
            if nbins and tree[1] >= ln:
                i = 1
                while i < cap:
                    i = 2 * i if tree[2 * i] >= ln else 2 * i + 1
                leaf = i - cap
                if leaf < nbins:  # empty leaves only match ln == 0
                    placed = leaf
            if placed is None:
                placed = nbins
                nbins += 1
                fills.append(0)
                if nbins > cap:  # double the tree, re-seat the leaves
                    cap *= 2
                    tree = [0] * (2 * cap)
                    for bi, fill in enumerate(fills):
                        tree[cap + bi] = budget - fill
                    for i in range(cap - 1, 0, -1):
                        tree[i] = max(tree[2 * i], tree[2 * i + 1])
            bins.append(placed)
            offs.append(fills[placed])
            fills[placed] += ln
            _set_rem(placed, budget - fills[placed])
        return pdf, bins, offs

    return _pack_buckets(df, budget, id_col, len_col, n_buckets, seed, walk)
